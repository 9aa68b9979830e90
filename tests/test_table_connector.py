"""Connector round-trip + index tests (the reference's
VeloxWriterTest/E2EIndexTest strategy, SURVEY.md §5)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nimble_spark.sources.table import (
    WriteOptions,
    read_manifest,
    read_table,
    write_table,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="nimble_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_roundtrip_plain(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_plain"
    m = write_table(src, path, WriteOptions())
    assert m["rows"] == src.count()
    back = read_table(spark, path)
    assert back.count() == src.count()
    # value-level round trip
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_manifest_stats(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_stats"
    m = write_table(src, path, WriteOptions())
    cs = m["column_stats"]["o_totalprice"]
    row = src.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert float(cs["min"]) == pytest.approx(row[0])
    assert float(cs["max"]) == pytest.approx(row[1])


def test_cluster_pruning(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_cluster"
    m = write_table(src, path, WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4))
    assert len(m["files"]) >= 2
    # disjoint key ranges across files (range partitioning)
    bounds = sorted((f["min"]["o_orderkey"], f["max"]["o_orderkey"]) for f in m["files"])
    for (lo1, hi1), (lo2, _hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2
    # pruned range scan returns exactly the right rows
    got = read_table(spark, path, range_scan=("o_orderkey", 100, 200))
    want = src.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") <= 200))
    assert got.count() == want.count()


def test_cluster_empty_range(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_cluster2"
    write_table(src, path, WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4))
    got = read_table(spark, path, range_scan=("o_orderkey", -500, -1))
    assert got.count() == 0


def test_hash_bucket_lookup(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    path = f"{tmpdir}/cust_hash"
    write_table(src, path, WriteOptions(bucket_by="c_custkey", n_buckets=8))
    # present + absent keys
    got = read_table(spark, path, point_lookup=("c_custkey", [1, 2, 99999]))
    rows = got.select("c_custkey").collect()
    assert sorted(r[0] for r in rows) == [1, 2]


def test_bloom_index_prunes_files(spark, tmpdir):
    """BloomFilter index analogue: unsorted multi-file write + footer
    blooms. An absent key must be vetoed by blooms alone (zero files
    read); a present key must keep a strict subset of files and
    return exactly its rows."""
    from nimble_spark.sources.bloom import bloom_prune_files

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").repartition(6, "o_custkey")
    path = f"{tmpdir}/orders_bloom"
    m = write_table(src, path, WriteOptions(bloom_cols=["o_orderkey"]))
    assert m["indexes"]["bloom"] == {"keys": ["o_orderkey"]}
    assert len(m["files"]) >= 4
    # unsorted: every file's min/max spans (nearly) the whole domain,
    # so range pruning alone could not skip anything for a point probe
    overall_min = min(f["min"]["o_orderkey"] for f in m["files"])
    overall_max = max(f["max"]["o_orderkey"] for f in m["files"])
    for f in m["files"]:
        assert f["min"]["o_orderkey"] < overall_min + (overall_max - overall_min) / 4
        assert f["max"]["o_orderkey"] > overall_max - (overall_max - overall_min) / 4

    # absent key: bloom veto prunes every file
    kept = bloom_prune_files(spark, m, path, "o_orderkey", [99999999])
    assert kept == []
    assert read_table(spark, path, point_lookup=("o_orderkey", [99999999])).count() == 0

    # present key: a strict subset of files is read, rows are exact
    kept = bloom_prune_files(spark, m, path, "o_orderkey", [7])
    assert 1 <= len(kept) < len(m["files"])
    got = read_table(spark, path, point_lookup=("o_orderkey", [7]))
    assert [r[0] for r in got.select("o_orderkey").collect()] == [7]

    # non-bloom column: probing declines (caller falls back)
    assert bloom_prune_files(spark, m, path, "o_custkey", [1]) is None

    # EXPLAIN PRUNING dry run. o_orderkey is contiguous, so an absent
    # key is outside the global range and the RANGE tier vetoes first:
    from nimble_spark.sources.bloom import explain_pruning

    verdicts = explain_pruning(spark, path, "o_orderkey", values=[99999999])
    assert all(not v["kept"] and v["pruned_by"] == "range" for v in verdicts)
    # a gapped key domain (even keys only): an absent odd key sits
    # INSIDE every file's min/max, so only the bloom tier can veto
    even = spark.range(0, 4000).selectExpr("id * 2 AS k").repartition(4, "k")
    p2 = f"{tmpdir}/even_bloom"
    write_table(even, p2, WriteOptions(bloom_cols=["k"]))
    verdicts = explain_pruning(spark, p2, "k", values=[4001])
    assert all(not v["kept"] and v["pruned_by"] == "bloom" for v in verdicts)


def test_bloom_sidecar_probe(spark, tmpdir):
    """Sidecar bloom index: bitsets extracted once into one parquet
    under _nimble/index/bloom; probes then read the sidecar only and
    must return the same pruning verdicts as footer probing. The
    expected-NDV knob right-sizes the bitsets (default is 1 MB
    each)."""
    import os

    from nimble_spark.sources.bloom import (
        SIDECAR_DIR,
        _sidecar_probe,
        bloom_prune_files,
        build_bloom_sidecar,
    )

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").repartition(6, "o_custkey")
    path = f"{tmpdir}/orders_bloom_sc"
    m = write_table(
        src,
        path,
        WriteOptions(bloom_cols=["o_orderkey"], bloom_expected_ndv={"o_orderkey": 2000}),
    )
    # footer-probe verdicts BEFORE the sidecar exists
    foot_absent = bloom_prune_files(spark, m, path, "o_orderkey", [99999999])
    foot_present = bloom_prune_files(spark, m, path, "o_orderkey", [7])

    n = build_bloom_sidecar(spark, path, "o_orderkey")
    assert n >= len(m["files"])
    sc_file = os.path.join(path, SIDECAR_DIR, "o_orderkey.parquet")
    # right-sized: far below the 1 MB-per-bloom default
    assert os.path.getsize(sc_file) < 256 * 1024

    sc_absent = _sidecar_probe(spark, path, m, "o_orderkey", [99999999])
    sc_present = _sidecar_probe(spark, path, m, "o_orderkey", [7])
    assert sc_absent == foot_absent == []
    assert sc_present == foot_present
    # and the public entry now routes through the sidecar
    assert bloom_prune_files(spark, m, path, "o_orderkey", [7]) == sc_present


def test_bloom_index_string_column(spark, tmpdir):
    """BINARY bloom path: string-keyed point lookups prune by footer
    blooms too (hash goes through Binary.fromString)."""
    from nimble_spark.sources.bloom import bloom_prune_files

    src = spark.read.parquet(f"{SF_SMALL}/customer.parquet").repartition(6, "c_custkey")
    path = f"{tmpdir}/cust_bloom_str"
    m = write_table(src, path, WriteOptions(bloom_cols=["c_name"]))
    some = [r[0] for r in src.select("c_name").limit(1).collect()]

    kept = bloom_prune_files(spark, m, path, "c_name", ["Customer#notexists9999"])
    assert kept == []
    kept = bloom_prune_files(spark, m, path, "c_name", some)
    assert 1 <= len(kept) < len(m["files"])
    got = read_table(spark, path, point_lookup=("c_name", some))
    assert [r[0] for r in got.select("c_name").collect()] == some


def test_schema_evolution_missing_column(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    path = f"{tmpdir}/nation"
    write_table(src, path, WriteOptions())
    got = read_table(spark, path, columns=["n_name", "n_comment_missing"])
    assert got.columns == ["n_name", "n_comment_missing"]
    assert got.filter(F.col("n_comment_missing").isNotNull()).count() == 0


def test_user_metadata_and_attributes(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    path = f"{tmpdir}/region"
    write_table(
        src,
        path,
        WriteOptions(
            user_metadata={"owner": "pipeline-a"},
            column_attributes={"r_regionkey": {"iceberg.field-id": "1"}},
        ),
    )
    m = read_manifest(path)
    assert m["user_metadata"]["owner"] == "pipeline-a"
    assert m["column_attributes"]["r_regionkey"]["iceberg.field-id"] == "1"


def test_cut_by_groups_never_span_files(spark, tmpdir):
    # content-driven stripe cutting: every o_custkey group lives
    # entirely inside one file (VeloxWriterOptions.h:289-295 analogue)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_cut"
    m = write_table(src, path, WriteOptions(cut_by="o_custkey", n_cut_files=4))
    assert m["indexes"]["cut"] == {"key": "o_custkey", "n_files": 4}
    per_file = (
        spark.read.parquet(path)
        .select("o_custkey", F.input_file_name().alias("f"))
        .groupBy("o_custkey")
        .agg(F.countDistinct("f").alias("nf"))
    )
    assert per_file.filter(F.col("nf") > 1).count() == 0
    # round-trip intact
    assert read_table(spark, path).count() == src.count()


def test_cut_by_conflicts_rejected(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").limit(10)
    with pytest.raises(ValueError, match="cut_by"):
        write_table(src, f"{tmpdir}/bad", WriteOptions(cut_by="o_custkey", cluster_by=["o_orderkey"]))


def test_compaction_merges_small_files(spark, tmpdir):
    """compact_table: small adjacent files merge to ~target size, the
    data and the cluster-pruning behavior are unchanged, row_range
    positions are stable, and the rebuilt manifest accounts exactly."""
    from nimble_spark.sources.compaction import compact_table, plan_compaction

    src = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    path = f"{tmpdir}/li_compact"
    m = write_table(
        src, path, WriteOptions(cluster_by=["l_orderkey"], n_cluster_files=4, max_rows_per_file=400)
    )
    assert len(m["files"]) >= 8  # range split × per-file row cap
    before_rows = read_table(spark, path, row_range=(10, 60)).collect()
    before_all = sorted(tuple(r) for r in read_table(spark, path).collect())

    summary = compact_table(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert summary["bins"] >= 1
    assert summary["files_after"] < summary["files_before"] == len(m["files"])
    assert summary["rows"] == src.count()

    m2 = read_manifest(path)
    assert len(m2["files"]) == summary["files_after"]
    assert m2["user_metadata"]["compaction.files_before"] == str(len(m["files"]))
    # data intact
    after_all = sorted(tuple(r) for r in read_table(spark, path).collect())
    assert after_all == before_all
    # cluster range pruning still exact
    got = read_table(spark, path, range_scan=("l_orderkey", 100, 300))
    want = src.filter((F.col("l_orderkey") >= 100) & (F.col("l_orderkey") <= 300))
    assert got.count() == want.count()
    # positional reads stable at the cluster-key level (file order
    # preserved via first-name reuse + bins re-sorted by cluster key;
    # tie-order among equal keys is the only freedom)
    after_rows = read_table(spark, path, row_range=(10, 60)).collect()
    assert sorted(r["l_orderkey"] for r in after_rows) == sorted(
        r["l_orderkey"] for r in before_rows
    )
    # second compaction is a no-op
    again = compact_table(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert again["bins"] in (0, 1) and again["files_after"] <= summary["files_after"]

    # partitioned tables compact WITHIN each leaf directory (layout
    # preserved — full coverage in test_partitioned_rewrites.py)
    p2 = f"{tmpdir}/li_compact_part"
    write_table(src, p2, WriteOptions(partition_by=["l_returnflag"]))
    compact_table(spark, p2, target_file_bytes=10 * 1024 * 1024)
    m3 = read_manifest(p2)
    assert all(f["path"].startswith("l_returnflag=") for f in m3["files"])
    assert read_table(spark, p2).count() == src.count()


def test_sorted_index_stale_fence(spark, tmpdir):
    """A sorted index built before an append must NOT silently miss
    appended rows: the file-set fence detects staleness and the read
    falls back to a full (correct) scan; rebuilding the index
    restores index-pruned lookups."""
    from nimble_spark.sources.table import create_sorted_index

    src = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    path = f"{tmpdir}/cust_sorted_fence"
    write_table(src.filter("c_custkey < 100"), path, WriteOptions())
    create_sorted_index(spark, path, "c_custkey")
    assert read_table(spark, path, point_lookup=("c_custkey", [5])).count() == 1

    # append rows the index has never seen
    write_table(src.filter("c_custkey >= 100"), path, WriteOptions(), mode="append")
    hits = read_table(spark, path, point_lookup=("c_custkey", [105]))
    assert hits.count() == 1  # fence bypassed the stale index

    create_sorted_index(spark, path, "c_custkey")  # rebuild → fence current
    assert read_table(spark, path, point_lookup=("c_custkey", [105])).count() == 1
    assert read_table(spark, path, point_lookup=("c_custkey", [5])).count() == 1


def test_incremental_append_manifest(spark, tmpdir):
    """Append rebuilds the manifest in O(new files): entries of
    previously committed files are reused verbatim (same checksum
    object, no re-hash), and folded table stats stay exact."""
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    lo = src.filter(F.col("o_orderkey") <= 700)
    hi = src.filter(F.col("o_orderkey") > 700)
    path = f"{tmpdir}/orders_incr"

    m1 = write_table(lo, path, WriteOptions())
    entries1 = {f["path"]: f for f in m1["files"]}
    assert all("nulls" in f for f in m1["files"])

    m2 = write_table(hi, path, WriteOptions(), mode="append")
    assert m2["rows"] == src.count()
    # old entries survived IDENTICALLY (reused, not recomputed)
    for p, e in entries1.items():
        assert {f["path"]: f for f in m2["files"]}[p] is e or \
            {f["path"]: f for f in m2["files"]}[p] == e
    assert len(m2["files"]) > len(m1["files"])
    # folded table-level stats equal the full data's stats
    cs = m2["column_stats"]["o_orderkey"]
    row = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert int(cs["min"]) == row[0] and int(cs["max"]) == row[1]
    assert read_table(spark, path).count() == src.count()

    # commit log: overwrite started it, append extended it
    commits = m2["commits"]
    assert [c["mode"] for c in commits] == ["overwrite", "append"]
    assert commits[0]["rows_added"] == lo.count()
    assert commits[1]["rows_added"] == hi.count()
    assert sum(c["files_added"] for c in commits) == len(m2["files"])

    from nimble_spark import tools

    hist = tools.run_command(spark, path, "SHOW HISTORY").collect()
    assert [r["mode"] for r in hist] == ["overwrite", "append"]
    assert sum(r["rows_added"] for r in hist) == src.count()

    # time travel: commit 0 is exactly the first write's rows,
    # commit 1 (head) is everything; out-of-range raises
    snap0 = read_table(spark, path, as_of_commit=0)
    assert snap0.count() == lo.count()
    assert {r[0] for r in snap0.select("o_orderkey").collect()} == {
        r[0] for r in lo.select("o_orderkey").collect()
    }
    assert read_table(spark, path, as_of_commit=1).count() == src.count()
    with pytest.raises(ValueError):
        read_table(spark, path, as_of_commit=2)


def test_zorder_prunes_both_dimensions(spark, tmpdir):
    """Z-order layout: a narrow range scan on EITHER key must skip
    files (1-D clustering can only ever prune on its leading key),
    and pruned scans return exactly the right rows."""
    from nimble_spark.sources.table import _range_scan_entries, read_manifest

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_z"
    m = write_table(
        src, path, WriteOptions(zorder_by=["o_custkey", "o_totalprice"], n_cluster_files=8)
    )
    assert m["indexes"]["zorder"]["keys"] == ["o_custkey", "o_totalprice"]
    assert len(m["files"]) >= 4

    ck_max = src.agg(F.max("o_custkey")).collect()[0][0]
    tp_max = src.agg(F.max("o_totalprice")).collect()[0][0]
    for key, lo, hi in (
        ("o_custkey", 1, ck_max // 8),
        ("o_totalprice", 1.0, tp_max / 8),
    ):
        kept = _range_scan_entries(read_manifest(path), path, key, lo, hi)
        assert kept is not None and len(kept) < len(m["files"]), key
        got = read_table(spark, path, range_scan=(key, lo, hi))
        want = src.filter((F.col(key) >= lo) & (F.col(key) <= hi))
        assert got.count() == want.count(), key

    # data round-trips
    assert read_table(spark, path).count() == src.count()


def test_vacuum_and_fast_count(spark, tmpdir):
    from nimble_spark.sources.compaction import fast_count, vacuum_table

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    path = f"{tmpdir}/orders_maint"
    m = write_table(src, path, WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4))
    total = src.count()

    # debris: an unreferenced parquet file poisons any listing-based
    # read; vacuum restores directory == manifest
    shutil.copy(
        f"{path}/{m['files'][0]['path']}", f"{path}/zz-debris.parquet"
    )
    assert spark.read.parquet(path).count() > total  # the hazard
    spark.catalog.clearCache()
    # default grace skips fresh unreferenced files (in-flight-write
    # protection); min_age_s=0 forces the sweep for this simulated old debris
    assert vacuum_table(path) == []
    assert vacuum_table(path, min_age_s=0.0) == ["zz-debris.parquet"]
    assert vacuum_table(path, min_age_s=0.0) == []  # idempotent
    spark.catalog.refreshByPath(path)
    assert read_table(spark, path).count() == total

    # stats-answered counts: unfiltered = pure metadata; ranged =
    # metadata for interior files + scan of boundary files only
    assert fast_count(spark, path) == total
    want = src.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 9000)).count()
    assert fast_count(spark, path, ("o_orderkey", 1000, 9000)) == want
    assert fast_count(spark, path, ("o_orderkey", None, None)) == total
    assert fast_count(spark, path, ("o_orderkey", total * 10, None)) == 0


def test_encoding_layout_replay(spark, tmpdir):
    """Capture → replay: a second write re-applies the first write's
    layout verbatim (no fresh profiling needed), drift is reported
    when the data distribution moves, and the replayed table's blooms
    really exist (manifest bloom index matches the captured keys)."""
    from pyspark.sql import functions as F

    from nimble_spark.sources.encoding_policy import (
        captured_layout,
        write_table_with_policy,
        write_table_with_replay,
    )

    df = (
        spark.range(2000)
        .select(
            F.col("id"),
            F.concat(F.lit("uniq_"), F.col("id")).alias("free_text"),
            (F.col("id") % 7).cast("string").alias("category"),
        )
        .coalesce(1)
    )
    first = f"{tmpdir}/replay_first"
    write_table_with_policy(df, first, approx=False)
    cap = captured_layout(first)
    assert cap.bloom_cols == ["category"]

    # same data: replay matches, zero drift, no-profiling path works
    second = f"{tmpdir}/replay_second"
    m2, dec2, drift = write_table_with_replay(df, second, captured_from=first, approx=False)
    assert dec2.no_dictionary_cols == cap.no_dictionary_cols
    assert drift == []
    assert captured_layout(second).as_metadata() == cap.as_metadata()
    assert m2["indexes"]["bloom"]["keys"] == ["category"]
    assert m2["user_metadata"]["encoding_policy.replayed_from"] == first

    # distribution moved (category now unique): replay still applies
    # the captured layout but reports the stale columns as drift
    df_moved = df.withColumn("category", F.concat(F.lit("c_"), F.col("id")))
    third = f"{tmpdir}/replay_third"
    m3, dec3, drift3 = write_table_with_replay(
        df_moved, third, captured_from=first, approx=False
    )
    assert "category" in drift3
    assert dec3.bloom_cols == ["category"]  # replayed verbatim, not re-decided
    assert m3["user_metadata"]["encoding_policy.drift"] == ",".join(drift3)

    # replay without drift reporting skips the profile pass entirely
    fourth = f"{tmpdir}/replay_fourth"
    _, _, drift4 = write_table_with_replay(
        df, fourth, captured_from=first, report_drift=False
    )
    assert drift4 == []


def test_encoding_policy_write(spark, tmpdir):
    """min_size_policy: high-NDV column loses dictionary (and the
    parquet footer proves PLAIN-only), selective column gains a bloom,
    the decision lands in manifest user_metadata, and values survive."""
    import os

    import pyarrow.parquet as pa_pq
    from pyspark.sql import functions as F

    from nimble_spark.sources.encoding_policy import (
        min_size_policy,
        profile_columns,
        write_table_with_policy,
    )

    df = (
        spark.range(2000)
        .select(
            F.col("id"),
            F.concat(F.lit("uniq_"), F.col("id")).alias("free_text"),  # ndv ratio 1.0
            (F.col("id") % 7).cast("string").alias("category"),  # ndv 7 / 2000
        )
        .coalesce(1)
    )
    profiles = profile_columns(df, approx=False)
    decision = min_size_policy()(profiles)
    assert "free_text" in decision.no_dictionary_cols
    assert "id" in decision.no_dictionary_cols
    assert decision.bloom_cols == ["category"]

    path = f"{tmpdir}/policy_table"
    manifest, dec2 = write_table_with_policy(df, path, approx=False)
    assert dec2.no_dictionary_cols == decision.no_dictionary_cols
    meta = manifest["user_metadata"]
    assert "free_text" in meta["encoding_policy.no_dictionary_cols"]
    assert meta["encoding_policy.bloom_cols"] == "category"

    # footer-level proof: free_text has no dictionary page, category does
    enc = {}
    for finfo in manifest["files"]:
        md = pa_pq.ParquetFile(os.path.join(path, finfo["path"])).metadata
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                enc.setdefault(col.path_in_schema, set()).update(
                    str(e) for e in col.encodings
                )
    assert not any("DICTIONARY" in e for e in enc["free_text"])
    assert any("DICTIONARY" in e for e in enc["category"])

    back = read_table(spark, path)
    assert back.count() == 2000
    assert {r["category"] for r in back.select("category").distinct().collect()} == {
        str(i) for i in range(7)
    }


def test_merge_into_rewrites_only_affected_files(spark, tmpdir):
    from nimble_spark.sources.merge import merge_into
    from nimble_spark.sources.table import read_changes

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = f"{tmpdir}/orders_merge"
    # clustered by key → per-file disjoint key ranges, so a merge
    # touching a narrow key band affects few files
    m0 = write_table(src, path, WriteOptions(cluster_by=["o_orderkey"], max_rows_per_file=200))
    n_files0 = len(m0["files"])
    assert n_files0 >= 4

    lo, hi = 1, 40  # narrow band: only the first file(s) hold these keys
    upd = src.filter(F.col("o_orderkey").between(lo, hi)).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
    )
    ins = spark.createDataFrame(
        [(99999901, "I", 1.5), (99999902, "I", 2.5)],
        "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    n_upd = upd.count()
    m1 = merge_into(spark, path, upd.unionByName(ins), "o_orderkey")

    commit = m1["commits"][-1]
    assert commit["mode"] == "merge"
    # copy-on-write: the narrow merge must NOT rewrite the whole table
    assert 0 < commit["files_removed"] < n_files0
    # untouched entries carried over verbatim (incremental manifest)
    prior = {f["path"]: f for f in m0["files"]}
    reused = [f for f in m1["files"] if f["path"] in prior]
    assert reused and all(prior[f["path"]] == f for f in reused)

    back = read_table(spark, path)
    assert back.count() == src.count() + 2
    assert back.filter(F.col("o_orderstatus") == "U").count() == n_upd
    assert back.filter(F.col("o_orderstatus") == "I").count() == 2
    # no duplicate keys after the upsert
    assert back.select("o_orderkey").distinct().count() == back.count()

    # change feed: the merge commit's additions are exactly its new files
    ch = read_changes(spark, path, since_commit=m1["commits"][-2]["commit"])
    assert ch.filter(F.col("o_orderstatus") == "I").count() == 2
    assert ch.count() >= n_upd + 2

    # bucketed merges preserve the bucket layout and keep point
    # lookups exact (full coverage in test_partitioned_rewrites.py)
    bpath = f"{tmpdir}/orders_merge_bucketed"
    write_table(src, bpath, WriteOptions(bucket_by="o_orderkey"))
    mb = merge_into(spark, bpath, ins, "o_orderkey")
    assert all(f["path"].startswith("__nimble_bucket=") for f in mb["files"])
    new_key = ins.select(F.min("o_orderkey")).first()[0]
    hit = read_table(spark, bpath, point_lookup=("o_orderkey", [new_key]))
    assert hit.count() == 1


def test_plan_over_vanished_files_raises_not_partial(spark, tmpdir):
    """Above the parallel-partition-discovery threshold (32 root
    paths) Spark's distributed listing SILENTLY DROPS files that
    vanish mid-listing — a scan racing a rewrite would return partial
    rows with no error (r6 race-soak seed 60041). _plan_parquet must
    turn that into the retryable gone-window error instead."""
    import os

    import pytest

    from nimble_spark.sources.table import _plan_parquet, read_manifest, write_table

    path = f"{tmpdir}/vanish"
    write_table(
        spark.range(4000).selectExpr("id AS k").repartition(40), path, WriteOptions()
    )
    manifest = read_manifest(path)
    entries = manifest["files"]
    files = [os.path.join(path, f["path"]) for f in entries]
    assert len(files) == 40  # > the 32-path parallel-listing threshold
    for f in files[:2]:
        os.remove(f)
    with pytest.raises(ValueError, match="are gone"):
        _plan_parquet(spark, files, path, "scan", manifest)
    # intact list still plans cleanly and completely
    df = _plan_parquet(spark, files[2:], path, "scan", manifest)
    want = sum(f["rows"] for f in entries[2:])
    assert len(df.inputFiles()) == 38 and df.count() == want


def _build_plain(spark, path):
    write_table(spark.range(200).selectExpr("id AS k", "id * 2 AS v"), path, WriteOptions())
    return {}, [(k, 2 * k) for k in range(200)]


def _write_clustered(spark, path):
    write_table(
        spark.range(400).selectExpr("id AS k", "id % 7 AS v"),
        path,
        WriteOptions(cluster_by=["k"], n_cluster_files=4),
    )


def _build_clustered(spark, path):
    _write_clustered(spark, path)
    return {"range_scan": ("k", 100, 149)}, [(k, k % 7) for k in range(100, 150)]


def _build_clustered_point(spark, path):
    _write_clustered(spark, path)
    return {"point_lookup": ("k", [5, 250])}, [(5, 5), (250, 250 % 7)]


def _build_hive_string(spark, path):
    rows = [(i, ("01", "02", "10")[i % 3]) for i in range(60)]
    write_table(
        spark.createDataFrame(rows, "k LONG, p STRING"),
        path,
        WriteOptions(partition_by=["p"]),
    )
    return {}, rows


def _write_bucketed(spark, path):
    write_table(
        spark.range(120).selectExpr("id AS k", "cast(id AS string) AS s"),
        path,
        WriteOptions(bucket_by="k", n_buckets=4),
    )


def _build_bucketed(spark, path):
    _write_bucketed(spark, path)
    return {}, [(k, str(k)) for k in range(120)]


def _build_bucketed_point(spark, path):
    # int probe literals against a bigint key: the bucket ids only
    # match the written ones when the probe is hashed at the key's width
    _write_bucketed(spark, path)
    return {"point_lookup": ("k", [3, 77, 118, 500])}, [(3, "3"), (77, "77"), (118, "118")]


def _build_widened(spark, path):
    from nimble_spark.sources.alter import alter_table

    write_table(
        spark.createDataFrame([(i, float(i)) for i in range(50)], "k INT, v FLOAT"),
        path,
        WriteOptions(),
    )
    alter_table(path, widen={"k": "bigint", "v": "double"})
    write_table(
        spark.createDataFrame([(i, i + 0.5) for i in range(50, 80)], "k LONG, v DOUBLE"),
        path,
        mode="append",
    )
    return {}, [(i, float(i)) for i in range(50)] + [(i, i + 0.5) for i in range(50, 80)]


def _build_added(spark, path):
    from nimble_spark.sources.alter import alter_table

    write_table(spark.range(40).selectExpr("id AS k"), path, WriteOptions())
    alter_table(path, add={"w": "int"})
    write_table(
        spark.range(40, 70).selectExpr("id AS k", "cast(id AS int) AS w"),
        path,
        mode="append",
    )
    return {}, [(k, None) for k in range(40)] + [(k, k) for k in range(40, 70)]


@pytest.mark.parametrize(
    "build",
    [
        _build_plain,
        _build_clustered,
        _build_clustered_point,
        _build_hive_string,
        _build_bucketed,
        _build_bucketed_point,
        _build_widened,
        _build_added,
    ],
    ids=[
        "plain", "cluster_range", "cluster_point", "hive_string_partition",
        "bucketed", "bucketed_point", "alter_widen", "alter_add_mixed",
    ],
)
def test_read_table_plans_with_zero_jobs(spark, tmpdir, build):
    """read_table plans from the manifest's declared schema: building
    the frame reads no footer, so it starts no Spark job, and the
    declared types (widened columns, a STRING partition holding '01',
    a column only newer files carry) come back exactly."""
    import uuid

    path = f"{tmpdir}/zero_jobs_{build.__name__}"
    kwargs, want = build(spark, path)
    sc = spark.sparkContext
    group = f"zero-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_table planning")
    try:
        df = read_table(spark, path, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(tuple(r) for r in df.collect()) == sorted(want)  # keys are unique
    declared = {
        f["name"]: T.StructField.fromJson(f).dataType
        for f in read_manifest(path)["schema"]["fields"]
    }
    assert all(df.schema[c].dataType == t for c, t in declared.items())


def test_read_changes_bounds(spark, tmpdir):
    from nimble_spark.sources.table import read_changes

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_feed"
    write_table(src.filter(F.col("o_orderkey") % 2 == 0), path, WriteOptions())
    write_table(src.filter(F.col("o_orderkey") % 2 == 1), path, WriteOptions(), mode="append")

    all_rows = read_changes(spark, path, since_commit=-1)
    assert all_rows.count() == src.count()
    delta = read_changes(spark, path, since_commit=0)
    assert delta.count() == src.filter(F.col("o_orderkey") % 2 == 1).count()
    none = read_changes(spark, path, since_commit=1)
    assert none.count() == 0
    with pytest.raises(ValueError, match="out of range"):
        read_changes(spark, path, since_commit=5)


def test_update_where_file_granular(spark, tmpdir):
    from nimble_spark.sources.merge import update_where

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = f"{tmpdir}/orders_update"
    m0 = write_table(src, path, WriteOptions(cluster_by=["o_orderkey"], max_rows_per_file=200))
    n_files0 = len(m0["files"])

    m1 = update_where(
        spark, path, "o_orderkey BETWEEN 1 AND 40",
        {"o_totalprice": "o_totalprice + 1000000"},
    )
    commit = m1["commits"][-1]
    assert commit["mode"] == "update"
    assert 0 < commit["files_removed"] < n_files0  # narrow update, narrow rewrite

    back = read_table(spark, path)
    n_upd = back.filter(F.col("o_totalprice") > 900000).count()
    assert n_upd == src.filter(F.col("o_orderkey").between(1, 40)).count()
    assert back.count() == src.count()

    # no-match update is a no-op commit-wise
    m2 = update_where(spark, path, "o_orderkey = -1", {"o_totalprice": "0.0"})
    assert len(m2.get("commits", [])) == len(m1["commits"])


def test_merge_and_update_under_encoded_directory_name(spark, tmp_path):
    """Discovery matches the scan's file URIs to manifest paths: Spark
    URL-encodes a space or '%' in the table's directory name, so the
    URIs must decode first or every affected file reads as gone."""
    from nimble_spark.sources.merge import merge_into, update_where

    path = str(tmp_path / "a b%20c=d+e" / "t")
    write_table(
        spark.range(0, 40, 1, 4).selectExpr("id AS k", "id * 2 AS v"),
        path,
        WriteOptions(max_rows_per_file=10),
    )
    merge_into(spark, path, spark.range(35, 45).selectExpr("id AS k", "-id AS v"), "k")
    m = update_where(spark, path, "k < 5", {"v": "v + 1000"})
    assert m["commits"][-1]["files_removed"] == 1
    got = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
    assert got == {
        k: (-k if k >= 35 else 2 * k + (1000 if k < 5 else 0)) for k in range(45)
    }


def test_overwrite_partitions_touches_only_named_dirs(spark, tmpdir):
    from nimble_spark.sources.merge import overwrite_partitions

    src = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    path = f"{tmpdir}/events_dpo"
    m0 = write_table(src, path, WriteOptions(partition_by=["event_type"]))
    prior = {f["path"]: f for f in m0["files"]}

    redo = src.filter(F.col("event_type") == "view").withColumn("value", F.lit(0.0))
    m1 = overwrite_partitions(spark, redo, path)
    commit = m1["commits"][-1]
    assert commit["mode"] == "overwrite_partitions"
    assert commit["files_removed"] >= 1

    # untouched partitions keep their manifest entries verbatim
    untouched = [f for f in m1["files"] if "event_type=view" not in f["path"]]
    assert untouched and all(prior[f["path"]] == f for f in untouched)
    # replaced partition files are new
    assert all(f["path"] not in prior for f in m1["files"] if "event_type=view" in f["path"])

    back = read_table(spark, path)
    assert back.count() == src.count()
    assert back.filter((F.col("event_type") == "view") & (F.col("value") != 0.0)).count() == 0
    assert back.filter(F.col("event_type") == "click").count() == src.filter(
        F.col("event_type") == "click"
    ).count()

    with pytest.raises(ValueError, match="partition_by"):
        overwrite_partitions(spark, redo, f"{tmpdir}/orders_update")


def test_type_widening_guard(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        F.col("o_orderkey").cast("int").alias("k"),
        F.col("o_totalprice").cast("float").alias("p"),
    )
    path = f"{tmpdir}/orders_narrow"
    write_table(src, path, WriteOptions())
    wide = read_table(spark, path, columns=["k", "p"], evolved_types={"k": "bigint", "p": "double"})
    assert dict(wide.dtypes) == {"k": "bigint", "p": "double"}
    assert wide.count() == src.count()
    # narrowing must raise, not truncate
    with pytest.raises(ValueError, match="unsafe"):
        read_table(spark, path, columns=["k"], evolved_types={"k": "smallint"})
    with pytest.raises(ValueError, match="unsafe"):
        read_table(spark, path, columns=["p"], evolved_types={"p": "int"})


def test_python_datasource_prunes_files(spark, tmpdir):
    from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual
    from pyspark.sql.types import StructType

    from nimble_spark.sources.datasource import NimblePushdownReader, register_nimble_source

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    path = f"{tmpdir}/docs_pyds"
    m = write_table(src, path, WriteOptions(cluster_by=["doc_id"], max_rows_per_file=100))
    n_files = len(m["files"])
    assert n_files >= 4

    schema = StructType.fromJson(m["schema"])
    r = NimblePushdownReader(path, schema)
    assert len(r.partitions()) == n_files  # unfiltered: one partition per file
    r.pushFilters([GreaterThanOrEqual(("doc_id",), 10), LessThanOrEqual(("doc_id",), 50)])
    assert 0 < len(r.partitions()) < n_files  # narrow band prunes

    r2 = NimblePushdownReader(path, schema)
    r2.pushFilters([In(("doc_id",), (5, 7))])
    assert len(r2.partitions()) == 1  # both probes in the first cluster file

    # end-to-end via spark.read: values match the plain parquet scan
    register_nimble_source(spark)
    df = spark.read.format("nimble").load(path)
    got = df.filter(F.col("doc_id").between(10, 50)).count()
    want = src.filter(F.col("doc_id").between(10, 50)).count()
    assert got == want
    # column pruning reaches the reader: narrow projection still correct
    langs = {
        r["lang"] for r in df.filter(F.col("doc_id") == 5).select("lang").collect()
    }
    assert langs == {r["lang"] for r in src.filter(F.col("doc_id") == 5).select("lang").collect()}


def test_nimble_stream_source_cdc(spark, tmpdir):
    import time

    from nimble_spark.sources.datasource import register_nimble_source

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_cdc_stream"
    base = src.filter(F.col("o_orderkey") % 2 == 0)
    delta = src.filter(F.col("o_orderkey") % 2 == 1)
    write_table(base, path, WriteOptions())

    register_nimble_source(spark)
    sink = f"{tmpdir}/cdc_out"
    ckpt = f"{tmpdir}/cdc_ckpt"

    def drain():
        q = (
            spark.readStream.format("nimble")
            .load(path)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    drain()
    out1 = spark.read.parquet(sink)
    assert out1.count() == base.count()  # first run drains commit 0

    # append a commit; the SAME checkpoint resumes from the stored
    # offset, so the second run appends ONLY the delta to the sink
    write_table(delta, path, WriteOptions(), mode="append")
    drain()
    out2 = spark.read.parquet(sink)
    assert out2.count() == base.count() + delta.count()
    odd = out2.filter(F.col("o_orderkey") % 2 == 1)
    assert odd.count() == delta.count()


def test_pyds_writer_roundtrip_and_vacuum(spark, tmpdir):
    from nimble_spark.sources.compaction import vacuum_table
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    path = f"{tmpdir}/docs_pyds_write"
    src.write.format("nimble").mode("overwrite").save(path)
    m = read_manifest(path)
    assert m["rows"] == src.count()
    assert m["commits"][-1]["mode"] == "overwrite"

    # append through the format; both readers see the union
    src.limit(0).unionByName(src.filter(F.col("doc_id") < 10)).write.format(
        "nimble"
    ).mode("append").save(path)
    m2 = read_manifest(path)
    assert m2["rows"] == src.count() + src.filter(F.col("doc_id") < 10).count()
    assert m2["commits"][-1]["mode"] == "append"
    assert read_table(spark, path).count() == m2["rows"]

    # uncommitted debris (simulated task that died after its write but
    # before its commit message) stays out of the manifest and is
    # reclaimed by vacuum
    debris = f"{path}/pyds-deadbeef.parquet"
    import shutil as _sh
    _sh.copy(f"{path}/{m2['files'][0]['path']}", debris)
    assert all("deadbeef" not in f["path"] for f in read_manifest(path)["files"])
    removed = vacuum_table(path, min_age_s=0.0)
    assert any("pyds-deadbeef" in r for r in removed)
    assert read_table(spark, path).count() == m2["rows"]


def test_inverted_index_prunes_posting_files(spark, tmpdir):
    from nimble_spark.sources.inverted import (
        INVERTED_DIR,
        build_inverted_index,
        lookup_token,
    )
    from nimble_spark.sources.table import _prune_entries

    import os

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    path = f"{tmpdir}/docs_inverted"
    write_table(src, path, WriteOptions(cluster_by=["doc_id"]))
    m = build_inverted_index(spark, path)
    assert m["rows"] > 0

    # probe prunes posting files via the token cluster range
    side = os.path.join(path, INVERTED_DIR, "text")
    kept = _prune_entries(m, side, [("token", "eq", "the")])
    assert kept is not None and len(kept) <= len(m["files"])

    got = {r["doc_id"] for r in lookup_token(spark, path, "the").select("doc_id").collect()}
    want = {
        r["doc_id"]
        for r in src.filter(
            F.array_contains(F.split(F.trim("text"), r"\s+"), "the")
        ).select("doc_id").collect()
    }
    assert got == want and got
    # absent token: empty, no error
    assert lookup_token(spark, path, "zzz_not_a_token").count() == 0


def test_nimble_stream_sink(spark, tmpdir):
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    src_dir = f"{tmpdir}/sink_src"
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.write.parquet(src_dir)

    out = f"{tmpdir}/sink_out"
    q = (
        spark.readStream.schema(docs.schema)
        .parquet(src_dir)
        .writeStream.format("nimble")
        .option("path", out)
        .option("checkpointLocation", f"{tmpdir}/sink_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)

    m = read_manifest(out)
    assert m["rows"] == docs.count()
    assert "batch_id" in m["commits"][-1]
    assert read_table(spark, out).count() == docs.count()
    # and the sink table CDC-streams right back
    back = spark.read.format("nimble").load(out)
    assert back.count() == docs.count()


def test_pyds_reused_dataframe_is_correct(spark, tmpdir):
    """Regression for the Spark 4.1 python-DS planning-cache hazard:
    the JVM caches the baked read plan at the relation level and
    refreshes it only when a scan pushes filters, so with a pushdown
    reader a filterless action on a REUSED DataFrame silently reuses
    the previous scan's pruned partitions (wrong rows — observed on
    4.1.2). The default (safe) reader never derives plan state from
    pushed filters, so any interleaving of filtered and unfiltered
    actions on one loaded DataFrame stays row-exact."""
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    path = f"{tmpdir}/reuse"
    write_table(
        spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        path,
        WriteOptions(cluster_by=["k"], n_cluster_files=8),
    )
    d = spark.read.format("nimble").load(path)
    assert d.filter("k = 7").count() == 1
    assert d.count() == 1000  # NOT 1: no stale pruned plan
    assert d.filter("k >= 990").count() == 10
    assert d.count() == 1000
    assert d.agg(F.sum("v")).first()[0] == float(sum(range(1000)))


def test_stream_admission_control_one_commit_per_batch(spark, tmpdir):
    """maxCommitsPerTrigger=1: a 3-commit table drains as exactly 3
    micro-batches in commit order — the determinism q_stream_late_data
    relies on for reproducible watermark trajectories."""
    from nimble_spark.sources.datasource import register_nimble_source

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_throttled"
    parts = [src.filter(F.col("o_orderkey") % 3 == k) for k in range(3)]
    write_table(parts[0], path, WriteOptions())
    write_table(parts[1], path, WriteOptions(), mode="append")
    write_table(parts[2], path, WriteOptions(), mode="append")

    register_nimble_source(spark)
    q = (
        spark.readStream.format("nimble")
        .option("maxCommitsPerTrigger", "1")
        .load(path)
        .writeStream.format("memory")
        .queryName("t_throttled")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 3, q.recentProgress
    assert spark.sql("SELECT COUNT(*) FROM t_throttled").first()[0] == src.count()


def test_stream_source_timestamp_columns(spark, tmpdir):
    """Timestamp columns survive the Arrow bridge (Spark writes INT96
    → pyarrow reads ns → reader down-casts to us)."""
    from nimble_spark.sources.datasource import register_nimble_source

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    path = f"{tmpdir}/orders_ts_stream"
    write_table(src, path, WriteOptions())
    register_nimble_source(spark)
    q = (
        spark.readStream.format("nimble")
        .load(path)
        .writeStream.format("memory")
        .queryName("t_ts_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT COUNT(*), MIN(o_orderdate), MAX(o_orderdate) FROM t_ts_stream"
    ).first()
    exp = src.agg(
        F.count(F.lit(1)), F.min("o_orderdate"), F.max("o_orderdate")
    ).first()
    assert tuple(got) == tuple(exp)


def test_retention_snapshot_across_update_until_vacuum(spark, tmpdir):
    """Rewrites tombstone replaced files into the metadata trash:
    snapshots and CDC replays spanning the rewrite stay readable,
    directory scans never see the tombstones, and vacuum is the
    explicit point history ends."""
    from nimble_spark.sources.compaction import vacuum_table
    from nimble_spark.sources.merge import update_where
    from nimble_spark.sources.table import read_changes

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_retained"
    write_table(src, path, WriteOptions(cluster_by=["o_orderkey"]))
    update_where(
        spark, path, "o_orderkey BETWEEN 1 AND 40", {"o_totalprice": "0.0"}
    )

    # head sees the update, and the directory-visible row count is
    # unchanged (tombstones are invisible to the live scan)
    head = read_table(spark, path)
    assert head.count() == src.count()
    assert head.filter(F.col("o_totalprice") == 0.0).count() == src.filter(
        F.col("o_orderkey").between(1, 40)
    ).count()

    # snapshot BEFORE the update still reconstructs the original rows
    snap0 = read_table(spark, path, as_of_commit=0)
    assert snap0.count() == src.count()
    assert snap0.filter(F.col("o_totalprice") == 0.0).count() == 0

    # CDC window from the beginning replays both commits' additions
    assert read_changes(spark, path, -1).count() > src.count()

    # vacuum reclaims the trash; the old snapshot now raises
    assert any("trash" in r or "commit-" in r for r in vacuum_table(path))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="gone"):
        read_table(spark, path, as_of_commit=0).count()


def test_concurrent_appends_no_lost_update(spark, tmpdir):
    """Two appends racing from separate threads must BOTH land in the
    commit log (the write lock serializes read-manifest → write-data →
    publish; without it the last manifest rename wins and silently
    drops the loser's files)."""
    import threading

    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    path = f"{tmpdir}/region_mw"
    write_table(src, path, WriteOptions())

    errs = []

    def _append(tag: int) -> None:
        try:
            write_table(src.withColumn("r_regionkey", F.col("r_regionkey") + 100 * tag),
                        path, WriteOptions(), mode="append")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ts = [threading.Thread(target=_append, args=(k,)) for k in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    m = read_manifest(path)
    assert len(m.get("commits", [])) == 3  # overwrite + both appends
    assert read_table(spark, path).count() == 3 * src.count()


def test_write_lock_times_out_and_breaks_stale(spark, tmpdir):
    import os
    import time as _time

    import pytest as _pytest

    from nimble_spark.sources.table import table_write_lock

    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    path = f"{tmpdir}/region_locked"
    write_table(src, path, WriteOptions())

    with table_write_lock(path):
        with _pytest.raises(TimeoutError):
            with table_write_lock(path, timeout_s=0.3):
                pass
    # stale lock (old mtime, holder not a live pid) is broken, not
    # waited on. r6: a LIVE holder's lock is never broken (see
    # test_multiprocess_lock.test_live_holder_never_broken...), so the
    # crashed writer is simulated with unparseable lock content.
    probe = table_write_lock(path)
    with open(probe.lock_path, "w") as f:
        f.write("crashed-writer")
    old = _time.time() - 10_000
    os.utime(probe.lock_path, (old, old))
    with table_write_lock(path, timeout_s=5):
        pass
    assert not os.path.exists(probe.lock_path)


def test_interop_sees_committed_state_only(spark, tmpdir):
    """pyarrow/DuckDB interop reads exactly the manifest's live files:
    write debris and retained rewrite tombstones are invisible, and an
    update's new state is what every engine sees."""
    import duckdb

    from nimble_spark.sources.interop import arrow_dataset, duckdb_relation, live_files
    from nimble_spark.sources.merge import update_where

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_interop"
    write_table(src, path, WriteOptions(cluster_by=["o_orderkey"]))
    update_where(spark, path, "o_orderkey < 10", {"o_totalprice": "0.0"})
    # debris a naive glob would read
    with open(f"{path}/zz-debris.parquet", "wb") as fh:
        fh.write(b"not a real file")

    ds = arrow_dataset(path)
    assert ds.count_rows() == src.count()
    zeroed = src.filter(F.col("o_orderkey") < 10).count()

    con = duckdb.connect()
    rel = duckdb_relation(con, path)
    n, z = con.execute(
        f"SELECT COUNT(*), SUM(CASE WHEN o_totalprice = 0 THEN 1 ELSE 0 END) "
        f"FROM read_parquet({live_files(path)!r})"
    ).fetchone()
    assert n == src.count() and z == zeroed
    assert rel.count("*").fetchone()[0] == src.count()


def test_check_constraints_gate_writes(spark, tmpdir):
    """CHECK constraints validate before any file lands, persist in the
    manifest, and re-validate appends."""
    import pytest as _pytest

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_checked"
    m = write_table(
        src, path,
        WriteOptions(check_constraints={"price_pos": "o_totalprice > 0",
                                        "key_nonnull": "o_orderkey IS NOT NULL"}),
    )
    assert set(m["constraints"]) == {"price_pos", "key_nonnull"}

    # violating overwrite to a new table: raises, nothing committed
    bad = src.withColumn("o_totalprice", F.lit(-1.0))
    path2 = f"{tmpdir}/orders_checked_bad"
    with _pytest.raises(ValueError, match="price_pos"):
        write_table(bad, path2, WriteOptions(check_constraints={"price_pos": "o_totalprice > 0"}))
    import os
    assert not os.path.exists(os.path.join(path2, "_nimble"))

    # violating APPEND to the constrained table: inherited check fires
    with _pytest.raises(ValueError, match="price_pos"):
        write_table(bad, path, mode="append")
    # table unchanged
    assert read_table(spark, path).count() == src.count()

    # clean append passes and keeps the constraints in the manifest
    m2 = write_table(src.limit(5), path, mode="append")
    assert set(m2["constraints"]) == {"price_pos", "key_nonnull"}


def test_fast_minmax_fenced_by_delete_masks(spark, tmpdir):
    """Stats-answered MIN/MAX must refuse tables with pending
    merge-on-read delete masks (bounds would over-report) and work
    again after compact_deletes materializes them."""
    import pytest as _pytest

    from nimble_spark.sources.compaction import fast_minmax
    from nimble_spark.sources.deletes import compact_deletes, delete_rows

    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{tmpdir}/orders_fence"
    write_table(src, path, WriteOptions())
    lo, hi = fast_minmax(spark, path, "o_orderkey")
    exp = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (lo, hi) == tuple(exp)

    max_key = int(exp[1])
    delete_rows(spark, path, "o_orderkey", [max_key])
    with _pytest.raises(ValueError, match="delete masks"):
        fast_minmax(spark, path, "o_orderkey")

    compact_deletes(spark, path)
    lo2, hi2 = fast_minmax(spark, path, "o_orderkey")
    exp2 = src.filter(F.col("o_orderkey") != max_key).agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).first()
    assert (lo2, hi2) == tuple(exp2)


def test_bucket_point_lookup_projects_evolved_columns(spark, tmpdir):
    """Projection through the hash-bucket point-lookup path follows the
    same schema-evolution contract as every other read path: a column
    added later (absent from the files) comes back as a typed null
    instead of raising."""
    path = f"{tmpdir}/bucket_evolve"
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    write_table(df, path, WriteOptions(bucket_by="k", n_buckets=4))
    out = read_table(
        spark, path,
        columns=["k", "added_later"],
        point_lookup=("k", [3, 7]),
        evolved_types={"added_later": "double"},
    )
    rows = out.collect()
    assert sorted(r["k"] for r in rows) == [3, 7]
    assert all(r["added_later"] is None for r in rows)
    assert dict(out.dtypes)["added_later"] == "double"


def test_isnull_pushdown_all_null_file(spark, tmpdir):
    """Round-6 ADVICE-high regression: a file (or row group) that is
    ALL NULL in a column carries no min/max stats; the manifest build
    used to skip its null_count too, record nulls=0, and the isnull
    pruning then dropped the file — silently losing IS NULL rows."""
    from pyspark.sql import Row, types as T

    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    rows = [Row(k=i, v=None) for i in range(50)] + [
        Row(k=i, v=float(i)) for i in range(50, 100)
    ]
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    # two files: one entirely null in v, one non-null
    src = spark.createDataFrame(rows, schema).repartitionByRange(2, "k")
    path = f"{tmpdir}/allnull_isnull"
    write_table(src, path, WriteOptions())
    m = read_manifest(path)
    # the all-null file must NOT record nulls=0 for v
    for e in m["files"]:
        nv = (e.get("nulls") or {}).get("v")
        if nv is not None:
            assert nv in (0, 50)
    got = (
        spark.read.format("nimble")
        .option("pushdown", "true")
        .load(path)
        .filter(F.col("v").isNull())
        .count()
    )
    assert got == 50
    # notnull side stays correct too
    got_nn = (
        spark.read.format("nimble")
        .option("pushdown", "true")
        .load(path)
        .filter(F.col("v").isNotNull())
        .count()
    )
    assert got_nn == 50


def test_mixed_row_group_null_counts(tmpdir):
    """Unit repro of the exact advice case: one parquet file mixing an
    all-null row group (null_count present, min/max absent) with a
    non-null row group must record the FULL null count, or none."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from nimble_spark.sources.table import _describe_parquet_file

    p = f"{tmpdir}/mixed_rg.parquet"
    t1 = pa.table({"x": pa.array([None, None, None], type=pa.int64())})
    t2 = pa.table({"x": pa.array([1, 2, 3], type=pa.int64())})
    w = pa_pq.ParquetWriter(p, t1.schema)
    w.write_table(t1)
    w.write_table(t2)
    w.close()
    e = _describe_parquet_file(p, tmpdir, ["x"])
    assert e["nulls"].get("x", 3) == 3


def test_legacy_bucketed_zero_entry_manifest_raises(spark, tmpdir):
    """ADVICE r5: a bucketed table whose manifest has a hash index but
    ZERO file entries (written before the bucket-discovery fix) must
    raise with a repair hint, not silently read as empty."""
    import json
    import os

    from nimble_spark.sources.table import MANIFEST_DIR

    path = f"{tmpdir}/legacy_bucketed"
    src = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    write_table(src, path, WriteOptions(bucket_by="k", n_buckets=4))
    mf = os.path.join(path, MANIFEST_DIR, "manifest.json")
    with open(mf) as f:
        m = json.load(f)
    m["files"] = []  # simulate the legacy zero-entry manifest
    with open(mf, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="legacy manifest"):
        read_table(spark, path).count()
    with pytest.raises(ValueError, match="legacy manifest"):
        read_table(spark, path, point_lookup=("k", [5])).count()


def test_materialize_columns_holds_lock(spark, tmpdir):
    """ADVICE r5: materialize_columns must hold the table write lock
    across its whole read→rewrite span so a concurrent append cannot
    land between the source read and the overwrite commit."""
    import threading

    from nimble_spark.sources.table import materialize_columns, table_write_lock

    path = f"{tmpdir}/mat_lock"
    src = spark.range(200).selectExpr("id AS k", "id * 3 AS v", "id * 3 AS v_copy")
    write_table(src, path, WriteOptions(dedup_columns=True))

    seen = {}

    def contender():
        # grabs the lock as soon as materialize releases it; if
        # materialize did NOT hold the lock during its span, this
        # acquisition would succeed DURING the rewrite instead.
        with table_write_lock(path, timeout_s=30):
            seen["acquired_after"] = True

    # hold the lock ourselves; materialize must WAIT for it
    blocker = table_write_lock(path)
    blocker.__enter__()
    t = threading.Thread(
        target=lambda: seen.update(m=materialize_columns(spark, path))
    )
    t.start()
    t.join(timeout=2)
    assert t.is_alive()  # blocked on our lock — proof it acquires one
    blocker.__exit__()
    t.join(timeout=120)
    assert not t.is_alive()
    assert not seen["m"].get("column_aliases")
    out = read_table(spark, path)
    assert out.count() == 200 and "v_copy" in out.columns


def test_partition_values_keep_declared_type_and_fidelity(spark, tmpdir):
    """Partition values live only in directory names, and Spark
    re-infers their type per plan — LOSSILY: p STRING of '01','02'
    infers INT 1,2, silently retyping the column AND destroying the
    leading zero ('01' joins/filters as '1' downstream). Every read
    path must re-plan with the declared type so values survive
    verbatim: normal scan, partition-pruned scan, snapshot, and the
    typed change feed (which spans trash groups after a rollback)."""
    from nimble_spark.sources.table import read_changes, rollback_table

    path = f"{tmpdir}/part_fidelity"
    d0 = spark.createDataFrame([(1, "01"), (2, "02")], "k LONG, p STRING")
    write_table(d0, path, WriteOptions(partition_by=["p"]))

    full = read_table(spark, path)
    assert dict(full.dtypes)["p"] == "string"
    assert sorted((r.k, r.p) for r in full.collect()) == [(1, "01"), (2, "02")]

    pruned = read_table(spark, path, range_scan=("p", "01", "01"))
    assert [(r.k, r.p) for r in pruned.collect()] == [(1, "01")]

    snap = read_table(spark, path, as_of_commit=0)
    assert sorted((r.k, r.p) for r in snap.collect()) == [(1, "01"), (2, "02")]

    # change feed across a rollback: delete events read from trash
    # groups must carry the same faithful partition values
    d1 = spark.createDataFrame([(3, "03")], "k LONG, p STRING")
    write_table(d1, path, WriteOptions(partition_by=["p"]), mode="append")
    rollback_table(spark, path, commit=0)
    feed = read_changes(
        spark, path, since_commit=-1, with_commit=True, with_change_type=True
    )
    assert dict(feed.dtypes)["p"] == "string"
    got = sorted((r.k, r.p, r["_change_type"]) for r in feed.collect())
    assert got == [
        (1, "01", "insert"),
        (2, "02", "insert"),
        (3, "03", "delete"),
        (3, "03", "insert"),
    ]


def test_pyds_partitioned_table_reads(spark, tmpdir):
    """The Python DataSource must read Hive-partitioned tables:
    partition values exist only in directory names, so the reader
    parses them from the path at the DECLARED type (string '01' stays
    '01'), attaches them as constant Arrow arrays, and prunes whole
    files on pushed partition constraints — previously any read
    crashed with ArrowInvalid (no such field in the file)."""
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    path = f"{tmpdir}/pyds_part"
    df = spark.createDataFrame(
        [(1, "01", 10.0), (2, "02", 20.0), (3, None, 30.0)],
        "k LONG, p STRING, v DOUBLE",
    )
    write_table(df, path, WriteOptions(partition_by=["p"]))

    out = spark.read.format("nimble").load(path)
    assert dict(out.dtypes)["p"] == "string"
    assert sorted(((r.k, r.p, r.v) for r in out.collect()), key=str) == sorted(
        [(1, "01", 10.0), (2, "02", 20.0), (3, None, 30.0)], key=str
    )
    # pure-partition projection: rows come from footer counts only
    assert sorted(((r.p,) for r in out.select("p").collect()), key=str) == sorted(
        [("01",), ("02",), (None,)], key=str
    )
    # partition constraint prunes at file level; declared-type match
    assert [(r.v, r.p) for r in out.filter("p = '02'").select("v", "p").collect()] == [
        (20.0, "02")
    ]
    # Hive null-partition sentinel round-trips as SQL NULL
    assert [r.k for r in out.filter("p IS NULL").select("k").collect()] == [3]

    # streaming CDC source over the same partitioned table
    q = (
        spark.readStream.format("nimble")
        .load(path)
        .writeStream.format("memory")
        .queryName("pyds_part_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        ((r.k, r.p, r.v) for r in spark.sql("SELECT * FROM pyds_part_stream").collect()),
        key=str,
    )
    assert got == sorted([(1, "01", 10.0), (2, "02", 20.0), (3, None, 30.0)], key=str)


def test_pyds_append_refuses_directory_layouts(spark, tmpdir):
    """r7: append via format('nimble') to a Hive-partitioned table used
    to silently drop the partition index AND lose the appended rows
    from the manifest — the writer stages flat files and cannot
    reproduce a directory layout, so it must refuse loudly (same
    contract as the alter/dedup_columns refusals)."""
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    path = f"{tmpdir}/pyds_part_refuse"
    rows = spark.range(0, 40).selectExpr("CAST(id % 4 AS STRING) AS p", "id AS k")
    write_table(rows, path, WriteOptions(partition_by=["p"]))
    extra = spark.range(100, 110).selectExpr(
        "CAST(id % 4 AS STRING) AS p", "id AS k"
    )
    with pytest.raises(Exception, match="layout"):
        extra.write.format("nimble").mode("append").save(path)
    # nothing was corrupted by the refused attempt
    m = read_manifest(path)
    assert m["indexes"] == {"partition": {"keys": ["p"]}}
    assert read_table(spark, path).count() == 40


def test_pyds_append_carries_stats_indexes(spark, tmpdir):
    """r7: a python-DS append must carry the table's stats-shaped
    indexes (cluster/zorder/bloom/sorted) forward — before the fix the
    rebuilt manifest published indexes={}, silently de-indexing the
    table (pruning gone for every later scan)."""
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    path = f"{tmpdir}/pyds_cluster_carry"
    write_table(
        spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"),
        path,
        WriteOptions(cluster_by=["k"], n_cluster_files=2),
    )
    spark.range(100, 120).selectExpr("id AS k", "id * 2 AS v").write.format(
        "nimble"
    ).mode("append").save(path)
    m = read_manifest(path)
    assert "cluster" in m["indexes"], m["indexes"]
    assert m["rows"] == 120
    assert read_table(spark, path).count() == 120


def test_pyds_overwrite_resets_partitioned_table(spark, tmpdir):
    """r7: overwrite via format('nimble') of a Hive-partitioned table
    used to sweep only ROOT-level files while the manifest build walks
    recursively — the old generation's partitioned files were
    RESURRECTED into the new manifest (old rows unioned with new).
    Overwrite must replace the table wholesale: new rows only, layout
    dirs gone, indexes reset."""
    import os

    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    path = f"{tmpdir}/pyds_part_overwrite"
    rows = spark.range(0, 40).selectExpr("CAST(id % 4 AS STRING) AS p", "id AS k")
    write_table(rows, path, WriteOptions(partition_by=["p"]))
    spark.range(100, 110).selectExpr("id AS k").write.format("nimble").mode(
        "overwrite"
    ).save(path)
    m = read_manifest(path)
    assert m["rows"] == 10
    assert m["indexes"] == {}
    t = read_table(spark, path)
    assert t.columns == ["k"]
    assert t.count() == 10
    assert not [d for d in os.listdir(path) if d.startswith("p=")]


def test_interop_partitioned_table_logical_view(spark, tmpdir):
    """r7 probe: a partitioned table's partition column VANISHED
    through arrow_dataset/duckdb_relation (values live in directory
    names, not file bytes). duckdb_relation now hive-parses the paths;
    arrow_dataset refuses (raw=True opts into physical bytes)."""
    import duckdb

    from nimble_spark.sources.interop import arrow_dataset, duckdb_relation

    path = f"{tmpdir}/interop_part"
    write_table(
        spark.range(0, 40).selectExpr("CAST(id % 4 AS STRING) AS p", "id AS k"),
        path,
        WriteOptions(partition_by=["p"]),
    )
    con = duckdb.connect()
    rel = duckdb_relation(con, path)
    assert set(rel.columns) == {"p", "k"}
    assert rel.aggregate("count(*) AS n").fetchone()[0] == 40
    assert (
        con.sql("SELECT COUNT(*) FROM rel WHERE p = '1'").fetchone()[0] == 10
    )
    with pytest.raises(ValueError, match="directory-derived"):
        arrow_dataset(path)
    assert arrow_dataset(path, raw=True).schema.names == ["k"]


def test_interop_applies_alter_mapping_and_refuses_masks(spark, tmpdir):
    import duckdb

    from nimble_spark.sources.alter import alter_table
    from nimble_spark.sources.deletes import delete_rows
    from nimble_spark.sources.interop import arrow_dataset, duckdb_relation

    path = f"{tmpdir}/interop_alter"
    write_table(
        spark.range(0, 30).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v", "CAST(id % 3 AS STRING) AS tag"
        ),
        path,
        WriteOptions(),
    )
    alter_table(path, rename={"v": "value"}, drop=["tag"])
    con = duckdb.connect()
    rel = duckdb_relation(con, path)
    # logical view: renamed surfaced, dropped hidden
    assert rel.columns == ["k", "value"]
    assert rel.aggregate("sum(value) AS s").fetchone()[0] == float(sum(range(30)))
    with pytest.raises(ValueError, match="alter"):
        arrow_dataset(path)
    # pending masks: duckdb APPLIES them (read_with_deletes parity);
    # arrow refuses even raw (a Dataset cannot carry the anti-join)
    delete_rows(spark, path, "k", [1, 2])
    rel2 = duckdb_relation(con, path)
    assert rel2.aggregate("count(*) AS n").fetchone()[0] == 28
    assert (
        con.sql("SELECT COUNT(*) FROM rel2 WHERE k IN (1, 2)").fetchone()[0] == 0
    )
    with pytest.raises(ValueError, match="delete masks"):
        arrow_dataset(path, raw=True)


def test_pyds_append_validates_constraints_and_carries_contracts(spark, tmpdir):
    """r7 probe: append via format('nimble') committed rows violating
    the table's CHECK constraints AND dropped the constraints/tags/
    user_metadata keys from the manifest. Constraints now validate
    over exactly the staged files (DuckDB in the DS worker, library
    NULL semantics) and every table-level contract carries forward."""
    from nimble_spark.sources.datasource import register_nimble_source
    from nimble_spark.sources.table import tag_commit

    register_nimble_source(spark)
    path = f"{tmpdir}/pyds_constraints"
    write_table(
        spark.range(0, 50).selectExpr("id AS k"),
        path,
        WriteOptions(
            check_constraints={"k_nonneg": "k >= 0"},
            user_metadata={"owner": "team-a"},
        ),
    )
    tag_commit(path, "v1")
    with pytest.raises(Exception, match="k_nonneg"):
        spark.range(0, 5).selectExpr("id - 100 AS k").write.format("nimble").mode(
            "append"
        ).save(path)
    m = read_manifest(path)
    assert m["rows"] == 50  # nothing committed
    # a valid append succeeds and the contracts survive it
    spark.range(100, 105).selectExpr("id AS k").write.format("nimble").mode(
        "append"
    ).save(path)
    m2 = read_manifest(path)
    assert m2["rows"] == 55
    assert m2["constraints"] == {"k_nonneg": "k >= 0"}
    assert m2["tags"] == {"v1": 0}
    assert m2["user_metadata"]["owner"] == "team-a"
    assert read_table(spark, path, as_of_tag="v1").count() == 50
    # library appends still enforce the carried constraint
    with pytest.raises(ValueError, match="k_nonneg"):
        write_table(
            spark.range(0, 3).selectExpr("id - 9 AS k"), path, mode="append"
        )


def _build_lookup_plain(spark, path):
    write_table(spark.range(100).selectExpr("id AS k", "id * 7 AS v"), path, WriteOptions())


def _build_lookup_cluster(spark, path):
    write_table(
        spark.range(100).selectExpr("id AS k", "id * 7 AS v"),
        path,
        WriteOptions(cluster_by=["k"], n_cluster_files=4),
    )


def _build_lookup_bucketed(spark, path):
    write_table(
        spark.range(100).selectExpr("id AS k", "id * 7 AS v"),
        path,
        WriteOptions(bucket_by="k", n_buckets=4),
    )


@pytest.mark.parametrize(
    "values,want",
    [([], []), ([None], []), ([None, 5], [(5, 35)]), ([5, None, 5], [(5, 35)])],
    ids=["empty", "only_null", "null_and_key", "duplicate_and_null"],
)
@pytest.mark.parametrize(
    "build",
    [_build_lookup_plain, _build_lookup_cluster, _build_lookup_bucketed],
    ids=["plain", "cluster", "bucketed"],
)
def test_point_lookup_null_and_empty_values(spark, tmpdir, build, values, want):
    """SQL IN semantics for point lookups: a null value matches
    nothing and an empty value list reads as an empty frame of the
    table's schema, on every index path."""
    path = f"{tmpdir}/lookup_nulls_{build.__name__}"
    if not os.path.exists(path):
        build(spark, path)
    df = read_table(spark, path, columns=["k", "v"], point_lookup=("k", values))
    assert df.columns == ["k", "v"]
    assert sorted(tuple(r) for r in df.collect()) == want


def test_point_lookup_prunes_cluster_files_per_value(spark, tmpdir):
    """Two keys at opposite ends of a 4-file cluster table read the
    two files that hold them, not every file between them."""
    path = f"{tmpdir}/lookup_per_value"
    write_table(
        spark.range(1000).selectExpr("id AS k", "id * 7 AS v"),
        path,
        WriteOptions(cluster_by=["k"], n_cluster_files=4),
    )
    assert len(read_manifest(path)["files"]) == 4
    df = read_table(spark, path, point_lookup=("k", [998, 3]))
    assert len(df.inputFiles()) == 2
    assert sorted(tuple(r) for r in df.collect()) == [(3, 21), (998, 6986)]


@pytest.fixture(scope="module")
def date_table(spark):
    """1,000 rows clustered by the DATE column d into 8 files."""
    d = tempfile.mkdtemp(prefix="nimble_date_key_")
    path = f"{d}/t"
    write_table(
        spark.range(1000).selectExpr("date_add(DATE'2024-01-01', CAST(id % 200 AS INT)) AS d", "id AS v"),
        path,
        WriteOptions(cluster_by=["d"], n_cluster_files=8),
    )
    yield path
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize(
    "entry", ["range_scan", "point_lookup", "serve_lookups", "fast_count", "explain_pruning"]
)
def test_date_key_prunes(spark, date_table, entry, monkeypatch):
    """Every stats-pruning entry point compares DATE stats (stored as
    ISO strings) with date probes: the answer equals an unpruned read
    and fewer files than the table has are kept."""
    import datetime as dt

    import nimble_spark.sources.table as tbl
    from nimble_spark.sources.bloom import explain_pruning
    from nimble_spark.sources.compaction import fast_count
    from nimble_spark.sources.serde import serve_lookups

    path = date_table
    lo, hi = dt.date(2024, 2, 1), dt.date(2024, 2, 10)
    n_files = len(read_manifest(path)["files"])
    full = read_table(spark, path)
    kept: list = []
    real = tbl._prune_entries
    monkeypatch.setattr(tbl, "_prune_entries", lambda *a: kept.append(real(*a)) or kept[-1])
    if entry == "range_scan":
        got = read_table(spark, path, range_scan=("d", lo, hi)).count()
        want = full.filter(F.col("d").between(lo, hi)).count()
    elif entry == "point_lookup":
        got = read_table(spark, path, point_lookup=("d", [lo, hi])).count()
        want = full.filter(F.col("d").isin(lo, hi)).count()
    elif entry == "serve_lookups":
        reqs = spark.createDataFrame([(1, lo), (2, hi)], "request_id LONG, d DATE")
        got = sum(r["n_rows"] for r in serve_lookups(spark, path, reqs, "d", ["v"]).collect())
        want = full.filter(F.col("d").isin(lo, hi)).count()
    elif entry == "fast_count":
        got = fast_count(spark, path, range_filter=("d", lo, hi))
        want = full.filter(F.col("d").between(lo, hi)).count()
    else:
        verdicts = explain_pruning(spark, path, "d", lo=lo, hi=hi)
        got = {v["file"] for v in verdicts if v["kept"]}
        want = {f["path"] for f in kept[0]}
    assert got == want and want
    assert kept and 0 < len(kept[0]) < n_files


def test_stats_bounds_keep_what_does_not_compare():
    """Timestamp, decimal and binary stats are stored as strings that
    order unlike their values: no probe compares with them, so every
    file is kept. Dates parse; numbers and strings compare as stored."""
    import datetime as dt
    from decimal import Decimal

    from nimble_spark.sources.table import _stat_bounds

    def entry(lo, hi):
        return {"min": {"c": lo}, "max": {"c": hi}}

    ts = entry("2024-01-05 00:00:00", "2024-01-05 00:00:00.500000")
    assert _stat_bounds(ts, "c", dt.datetime(2024, 1, 5)) is None
    assert _stat_bounds(entry("9.50", "12.00"), "c", Decimal("10")) is None
    assert _stat_bounds(entry("b'a'", "b'z'"), "c", b"m") is None
    assert _stat_bounds(entry(1, 9), "c", "5") is None
    assert _stat_bounds(entry(None, 9), "c", 5) is None
    assert _stat_bounds(entry("2024-01-05", "2024-02-29"), "c", dt.date(2024, 2, 1)) == (
        dt.date(2024, 1, 5),
        dt.date(2024, 2, 29),
    )
    assert _stat_bounds(entry(31.0, float("nan")), "c", 30.0) is None
    assert _stat_bounds(entry(1.0, 9.0), "c", float("nan")) is None
    assert _stat_bounds(entry(1, 9), "c", 2.5) == (1, 9)
    assert _stat_bounds(entry("a", "q"), "c", "b") == ("a", "q")


def test_nan_bound_keeps_its_file(spark, tmpdir):
    """Spark orders NaN above every double and parquet records it as
    a file's max: a file whose max is NaN can hold rows above any
    probe, so neither read_table nor format("nimble") may skip it."""
    from nimble_spark.sources.datasource import register_nimble_source

    path = f"{tmpdir}/nan_key"
    df = spark.range(40).selectExpr(
        "CASE WHEN id = 5 THEN CAST('NaN' AS DOUBLE) ELSE CAST(id AS DOUBLE) END AS x", "id"
    )
    write_table(df, path, WriteOptions(cluster_by=["x"], n_cluster_files=4))
    assert any(f["max"]["x"] != f["max"]["x"] for f in read_manifest(path)["files"])
    want = df.filter("x >= 30").count()
    assert read_table(spark, path, range_scan=("x", 30.0, None)).count() == want
    register_nimble_source(spark)
    pushed = spark.read.format("nimble").option("pushdown", "true").load(path)
    assert pushed.filter("x >= 30").count() == want
    assert pushed.filter("x = CAST('NaN' AS DOUBLE)").count() == 1


def test_fast_count_range_leaves_out_null_keys(spark, tmpdir):
    """A file whose key bounds lie inside the range but that holds
    null keys is scanned, not counted whole from its row count."""
    from nimble_spark.sources.compaction import fast_count

    path = f"{tmpdir}/null_keys"
    df = spark.range(120).selectExpr("CASE WHEN id < 20 THEN NULL ELSE id END AS k", "id AS v")
    write_table(df, path, WriteOptions(cluster_by=["k"], n_cluster_files=4))
    assert any(f["nulls"]["k"] for f in read_manifest(path)["files"])
    for lo, hi in ((0, 1000), (20, 60), (None, 40)):
        want = df.filter(F.col("k").between(-1 if lo is None else lo, hi)).count()
        assert fast_count(spark, path, range_filter=("k", lo, hi)) == want


# Logical-view matrix: every layout a read resolves through the
# manifest (Hive directories, the bucket column, dedup aliases, the
# alter_table mapping), read through every path, with and without a
# projection. Each table holds two data commits: k 0..39, then 40..59.
_VIEW_LAYOUTS = {
    "plain": WriteOptions(),
    "hive": WriteOptions(partition_by=["p"]),
    "bucketed": WriteOptions(bucket_by="k", n_buckets=4),
    "dedup": WriteOptions(dedup_columns=True),
    "alter": WriteOptions(),
}


def _view_rows(ks, alter):
    if alter:
        return [{"k": k, "p": str(k % 3), "vv": 2 * k, "w": k, "z": k} for k in ks]
    return [{"k": k, "p": str(k % 3), "v": 2 * k, "d": 2 * k, "w": k} for k in ks]


def _build_view_table(spark, path, layout):
    """(logical name → Spark type, rows of commit 0, rows of the later
    data commit) for a two-commit table in ``layout``."""
    from nimble_spark.sources.alter import alter_table

    def frame(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "cast(id % 3 AS string) AS p", "id * 2 AS v", "id * 2 AS d",
            "cast(id AS int) AS w",
        )

    opts = _VIEW_LAYOUTS[layout]
    write_table(frame(0, 40), path, opts)
    if layout != "alter":
        write_table(frame(40, 60), path, opts, mode="append")
        types = {"k": "bigint", "p": "string", "v": "bigint", "d": "bigint", "w": "int"}
        return types, _view_rows(range(40), False), _view_rows(range(40, 60), False)
    alter_table(path, rename={"v": "vv"}, drop=["d"], add={"z": "int"}, widen={"w": "bigint"})
    write_table(
        spark.range(40, 60).selectExpr(
            "id AS k", "cast(id % 3 AS string) AS p", "id * 2 AS vv", "id AS w",
            "cast(id AS int) AS z",
        ),
        path,
        mode="append",
    )
    types = {"k": "bigint", "p": "string", "vv": "bigint", "w": "bigint", "z": "int"}
    rows0 = [dict(r, z=None) for r in _view_rows(range(40), True)]
    return types, rows0, _view_rows(range(40, 60), True)


@pytest.mark.parametrize("layout", list(_VIEW_LAYOUTS))
def test_logical_view_on_every_read_path(spark, tmpdir, monkeypatch, layout):
    """Every read path returns the table's logical columns in declared
    order with their declared types: partition keys in place, no bucket
    column, dedup aliases restored, alter renames/drops/adds/widenings
    applied. A projection returns exactly the requested names in the
    requested order; a name the table lacks is a null."""
    from nimble_spark import tools
    from nimble_spark.sources.table import read_changes, seek_to_row

    path = f"{tmpdir}/logical_view_{layout}"
    types, rows0, rows1 = _build_view_table(spark, path, layout)
    names = list(types)
    full = rows0 + rows1
    proj = ["z", "vv", "p", "k", "absent"] if layout == "alter" else ["w", "d", "p", "k", "absent"]

    def check(df, want, cols):
        assert df.dtypes == [(c, types.get(c, "string")) for c in cols]
        got = sorted((tuple(r) for r in df.collect()), key=repr)
        assert got == sorted((tuple(r.get(c) for c in cols) for r in want), key=repr)

    def subset_of_full(df, cols, n):
        got = [tuple(r) for r in df.collect()]
        assert len(got) == n
        assert set(got) <= {tuple(r.get(c) for c in cols) for r in full}

    if layout in ("plain", "bucketed", "alter"):
        # their scans already hold the columns in logical order, so a
        # full read selects nothing column by column
        from pyspark.sql.classic.dataframe import DataFrame

        with monkeypatch.context() as m:
            m.setattr(DataFrame, "select", lambda *a: pytest.fail("full read selected"))
            read_table(spark, path)
            read_table(spark, path, as_of_commit=0)
    for cols in (None, proj):
        want_cols = cols or names
        check(read_table(spark, path, columns=cols), full, want_cols)
        check(
            read_table(spark, path, columns=cols, range_scan=("k", 10, 45)),
            [r for r in full if 10 <= r["k"] <= 45],
            want_cols,
        )
        check(
            read_table(spark, path, columns=cols, point_lookup=("k", [3, 41, 99])),
            [r for r in full if r["k"] in (3, 41)],
            want_cols,
        )
        check(read_table(spark, path, columns=cols, as_of_commit=0), rows0, want_cols)
        df = read_table(spark, path, columns=cols, row_range=(5, 50))
        assert df.dtypes == [(c, types.get(c, "string")) for c in want_cols]
        subset_of_full(df, want_cols, 45)
        df = tools.select(spark, path, columns=cols, stripe=0, limit=10**6)
        assert df.dtypes == [(c, types.get(c, "string")) for c in want_cols]
        subset_of_full(df, want_cols, read_manifest(path)["files"][0]["rg_rows"][0])
    # the projected row-range and stripe reads hold the same rows as
    # the full ones, projected
    for read in (
        lambda c: read_table(spark, path, columns=c, row_range=(5, 50)),
        lambda c: tools.select(spark, path, columns=c, stripe=1, limit=10**6),
    ):
        whole = [dict(zip(names, r)) for r in read(None).collect()]
        assert sorted((tuple(r) for r in read(proj).collect()), key=repr) == sorted(
            (tuple(r.get(c) for c in proj) for r in whole), key=repr
        )
    since = 1 if layout == "alter" else 0  # commit 1 of the alter table is the alter
    check(read_changes(spark, path, since), rows1, names)
    # a relative table path (the CLI passes its argument through) reads
    # the same rows; the driver and the scan resolve it against one
    # working directory
    monkeypatch.chdir(spark._jvm.System.getProperty("user.dir"))
    rel = os.path.relpath(path)
    for read in (
        lambda p: read_table(spark, p, row_range=(5, 50)),
        lambda p: seek_to_row(spark, p, 50),
        lambda p: tools.run_command(spark, p, "SELECT * STRIPE 0"),
    ):
        assert sorted(map(tuple, read(rel).collect()), key=repr) == sorted(
            map(tuple, read(path).collect()), key=repr
        )

    # evolution contract: a lossless widening casts, narrowing raises,
    # an unknown name is a null of its declared type
    widened = read_table(spark, path, columns=["w", "k"], evolved_types={"w": "bigint"})
    assert widened.dtypes == [("w", "bigint"), ("k", "bigint")]
    with pytest.raises(ValueError, match="unsafe type evolution"):
        read_table(spark, path, columns=["w"], evolved_types={"w": "smallint"})
    # a full read honours the declared types too
    full_widened = read_table(spark, path, evolved_types={"w": "bigint"})
    assert full_widened.dtypes == [(c, "bigint" if c == "w" else types[c]) for c in names]
    assert sorted(r["w"] for r in full_widened.collect()) == sorted(r["w"] for r in full)
    with pytest.raises(ValueError, match="unsafe type evolution"):
        read_table(spark, path, evolved_types={"w": "smallint"})
    typed = read_table(spark, path, columns=["k", "later"], evolved_types={"later": "double"})
    assert typed.dtypes == [("k", "bigint"), ("later", "double")]
    assert typed.filter(F.col("later").isNotNull()).count() == 0
    if layout == "alter":
        for kwargs in ({}, {"point_lookup": ("k", [3])}, {"row_range": (0, 5)}):
            with pytest.raises(ValueError, match="dropped"):
                read_table(spark, path, columns=["k", "d"], **kwargs)


def test_wide_projected_read_pulls_no_schema(spark, tmpdir, monkeypatch):
    """Building a 3-column read of a 2048-column table decides every
    column from the manifest: the frame's schema is never pulled back
    from the JVM (each pull parses the whole 2048-field schema)."""
    from pyspark.sql.classic.dataframe import DataFrame

    path = f"{tmpdir}/wide_2048"
    write_table(
        spark.range(4).selectExpr(*[f"id + {i} AS c{i:04d}" for i in range(2048)]),
        path,
        WriteOptions(),
    )
    pulls = []
    schema = DataFrame.schema

    def counted(df):
        pulls.append(1)
        return schema.__get__(df, DataFrame)

    monkeypatch.setattr(DataFrame, "schema", property(counted))
    for kwargs in ({}, {"point_lookup": ("c0000", [1, 2])}, {"range_scan": ("c0000", 0, 2)}):
        df = read_table(spark, path, columns=["c2047", "c0000", "c1024"], **kwargs)
    assert pulls == []
    monkeypatch.undo()
    assert [tuple(r) for r in df.orderBy("c0000").collect()] == [
        (2047 + k, k, 1024 + k) for k in range(3)
    ]
