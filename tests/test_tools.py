"""NimbleDSL-analogue inspection surface tests (golden-ish assertions
like tools/tests/NimbleDumpLibTest.cpp)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from nimble_spark import tools
from nimble_spark.sources.table import WriteOptions, write_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def table_path(spark):
    d = tempfile.mkdtemp(prefix="nimble_tools_")
    path = f"{d}/orders"
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    write_table(src, path, WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4))
    yield path
    shutil.rmtree(d, ignore_errors=True)


def test_describe(spark, table_path):
    d = {r["column"]: r["type"] for r in tools.describe(spark, table_path).collect()}
    assert d["o_orderkey"] == "long"
    assert d["o_totalprice"] == "double"


def test_show_stats(spark, table_path):
    stats = {r["column"]: r for r in tools.show_stats(spark, table_path).collect()}
    assert int(stats["o_orderkey"]["min"]) >= 0
    assert stats["o_totalprice"]["null_count"] == 0


def test_show_files_and_stripes(spark, table_path):
    files = tools.show_files(spark, table_path).collect()
    assert len(files) >= 2
    stripes = tools.show_stripes(spark, table_path).collect()
    assert sum(r["rows"] for r in stripes) == sum(r["rows"] for r in files)
    assert all(r["compressed_bytes"] > 0 for r in stripes)


def test_show_pages(spark, table_path, tmp_path):
    """SHOW PAGES: inline root for small tables; per-page rows with
    entry counts summing to the file count and parseable folded
    bounds on a sharded table."""
    import json

    import nimble_spark.sources.table as tbl
    from nimble_spark.sources.table import WriteOptions, write_table

    inline = tools.show_pages(spark, table_path).collect()
    assert len(inline) == 1 and inline[0]["page"] == "(inline root)"
    assert inline[0]["bytes"] > 0

    path = str(tmp_path / "sharded_pages")
    old = tbl.SHARD_FILE_THRESHOLD, tbl.MANIFEST_PAGE_SIZE
    tbl.SHARD_FILE_THRESHOLD, tbl.MANIFEST_PAGE_SIZE = 2, 2
    try:
        write_table(
            spark.range(1000).selectExpr("id AS k", "id * 2 AS v"),
            path,
            WriteOptions(cluster_by=["k"], n_cluster_files=6),
        )
    finally:
        tbl.SHARD_FILE_THRESHOLD, tbl.MANIFEST_PAGE_SIZE = old
    pages = tools.show_pages(spark, path).collect()
    assert len(pages) == 3 and sum(r["entries"] for r in pages) == 6
    for r in pages:
        assert r["sha"] and r["bytes"] > 0
        bounds = json.loads(r["min"])
        assert "k" in bounds  # folded cluster-key bound present
    # pages are disjoint on the cluster key, in manifest order
    maxs = [json.loads(r["max"])["k"] for r in pages]
    mins = [json.loads(r["min"])["k"] for r in pages]
    assert all(maxs[i] < mins[i + 1] for i in range(len(pages) - 1))


def test_dump_binary_dotted_nested_column(spark, tmp_path):
    """DUMP BINARY COLUMN accepts dotted nested paths through the DSL
    (the regex must not stop at \\w): the hex peek scopes to exactly
    that leaf chunk."""
    from nimble_spark.sources.table import WriteOptions, write_table

    path = str(tmp_path / "nested_dump")
    df = spark.range(100).selectExpr(
        "id AS k", "named_struct('x', id * 2, 'y', CAST(id AS STRING)) AS s"
    )
    write_table(df.coalesce(1), path, WriteOptions())
    rows = tools.run_command(
        spark, path, "DUMP BINARY STRIPE 0 COLUMN s.x LIMIT 32"
    ).collect()
    assert rows and all(r["column"] == "s.x" for r in rows)


def test_show_encodings(spark, table_path):
    encs = tools.show_encodings(spark, table_path).collect()
    assert any("ZSTD" in r["codec"].upper() for r in encs)


def test_show_histogram(spark, table_path):
    """SHOW HISTOGRAM: the encoding-usage rollup must account for
    every column chunk and every compressed byte SHOW ENCODING lists,
    and the STRIPE scope must subset it."""
    encs = tools.show_encodings(spark, table_path).collect()
    hist = tools.show_histogram(spark, table_path).collect()
    assert sum(r["chunks"] for r in hist) == len(encs)
    assert sum(r["compressed_bytes"] for r in hist) == sum(
        r["compressed_bytes"] for r in encs
    )
    assert all("," not in r["type"] for r in hist)  # one physical type per row
    one = tools.show_histogram(spark, table_path, stripe=0).collect()
    assert 0 < sum(r["chunks"] for r in one) < len(encs)


def test_show_index(spark, table_path):
    idx = tools.show_index(spark, table_path).collect()
    assert any(r["index"] == "cluster" and r["key"] == "o_orderkey" for r in idx)


def test_select_limit_offset(spark, table_path):
    rows = tools.select(spark, table_path, columns=["o_orderkey"], limit=5).collect()
    assert len(rows) == 5


def test_select_stripe_scoped(spark, table_path):
    """SELECT … STRIPE s (docs/NimbleDSL.md:27-35): the peek returns
    rows from exactly the s-th row group in manifest order — verified
    against the stripe's own row span via SHOW STRIPES + the full
    table in manifest row order."""
    stripes = sorted(tools.show_stripes(spark, table_path).collect(), key=lambda r: r["ordinal"])
    assert len(stripes) >= 2
    assert [r["ordinal"] for r in stripes] == list(range(len(stripes)))
    # global row offset of stripe ordinal 1
    n0 = stripes[0]["rows"]
    n1 = stripes[1]["rows"]
    got = tools.run_command(
        spark, table_path, "SELECT o_orderkey STRIPE 1 LIMIT 1000000"
    ).collect()
    assert len(got) == n1
    from nimble_spark.sources.table import _read_row_range, read_manifest

    want = _read_row_range(
        spark, table_path, read_manifest(table_path), n0, n0 + n1
    ).select("o_orderkey").collect()
    assert {r["o_orderkey"] for r in got} == {r["o_orderkey"] for r in want}
    # LIMIT scopes within the stripe
    assert len(tools.select(spark, table_path, stripe=1, limit=3).collect()) == 3
    # out-of-range stripe raises, not returns wrong data
    with pytest.raises(ValueError):
        tools.select(spark, table_path, stripe=10_000)
    # reference grammar: clauses in ANY order, FROM tolerated
    # (docs/NimbleDSL.md — "SELECT * LIMIT 50 STRIPE 0")
    assert (
        tools.run_command(spark, table_path, "SELECT * LIMIT 3 STRIPE 1").count() == 3
    )
    assert (
        tools.run_command(
            spark, table_path, "SELECT o_orderkey, o_totalprice FROM t LIMIT 4"
        ).count()
        == 4
    )
    assert (
        tools.run_command(spark, table_path, "SELECT o_orderkey OFFSET 2 LIMIT 5").count()
        == 5
    )


def test_show_metrics_reader_stats(spark, table_path):
    rows = tools.show_metrics(spark, table_path).collect()
    by_metric = {}
    for r in rows:
        if "Scan" in r["node"]:
            by_metric[r["metric"]] = r["value"]
    # the scan node must surface the reader runtime stats the reference
    # exposes: files touched, bytes read, rows produced
    assert by_metric.get("number of files read", by_metric.get("numFiles", 0)) >= 1
    assert any("size of files" in m or "filesSize" in m for m in by_metric)
    assert by_metric.get("number of output rows", by_metric.get("numOutputRows", 0)) > 0


def test_show_scan_metrics_pruning(spark):
    """SHOW SCAN METRICS on a Hive-partitioned table: a partition
    filter must open fewer files than the manifest lists, and the
    rows_read SQLMetric must equal the real row count."""
    d = tempfile.mkdtemp(prefix="nimble_scanmet_")
    try:
        path = f"{d}/orders_part"
        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        write_table(src, path, WriteOptions(partition_by=["o_orderstatus"]))
        want = src.filter("o_orderstatus = 'F'").count()

        r = tools.run_command(
            spark, path, "SHOW SCAN METRICS WHERE o_orderstatus = 'F'"
        ).collect()[0]
        assert r["files_listed"] > r["files_read"] >= 1
        assert r["files_skipped"] == r["files_listed"] - r["files_read"]
        assert r["rows_read"] == want
        assert r["bytes_read"] > 0

        # unfiltered: every file is opened, nothing skipped
        full = tools.show_scan_metrics(spark, path).collect()[0]
        assert full["files_read"] == full["files_listed"]
        assert full["rows_read"] == src.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _scanned(df, root) -> set[str]:
    """The root-relative files a frame's scan reads."""
    import os
    from urllib.parse import unquote, urlparse

    return {os.path.relpath(unquote(urlparse(p).path), root) for p in df.inputFiles()}


def test_explain_pruning(spark, table_path, tmp_path):
    """EXPLAIN PRUNING dry-runs the skip decision read_table takes: on
    the clustered table a narrow BETWEEN marks out-of-range files
    pruned_by=range without reading data, and the kept set equals the
    files the scan reads, for ranges and point lists alike."""
    from nimble_spark.sources.bloom import explain_pruning
    from nimble_spark.sources.table import read_table

    rows = tools.run_command(
        spark, table_path, "EXPLAIN PRUNING o_orderkey BETWEEN 100 AND 200"
    ).collect()
    kept = {r["file"] for r in rows if r["kept"]}
    pruned = [r for r in rows if not r["kept"]]
    assert pruned and all(r["pruned_by"] == "range" for r in pruned)
    assert 1 <= len(kept) < len(rows)
    # the dry-run kept set is the real scan's file set, which covers
    # every matching row
    got = read_table(spark, table_path, range_scan=("o_orderkey", 100, 200))
    assert _scanned(got, table_path) == kept
    assert got.count() == spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
        "o_orderkey BETWEEN 100 AND 200"
    ).count()

    # 8 files clustered by k, v = k: a point list at both ends reads
    # the two files that hold it (not the hull between them), and a
    # range on the unindexed v reads every file
    path = str(tmp_path / "kv")
    write_table(
        spark.range(1000).selectExpr("id AS k", "id AS v"),
        path,
        WriteOptions(cluster_by=["k"], n_cluster_files=8),
    )
    for dry, scan in (
        (
            explain_pruning(spark, path, "k", values=[3, 998]),
            read_table(spark, path, point_lookup=("k", [3, 998])),
        ),
        (
            explain_pruning(spark, path, "v", lo=0, hi=10),
            read_table(spark, path, range_scan=("v", 0, 10)),
        ),
    ):
        assert len(dry) == 8
        assert {d["file"] for d in dry if d["kept"]} == _scanned(scan, path)
        assert {d["pruned_by"] for d in dry if not d["kept"]} <= {"range"}
    assert sum(d["kept"] for d in explain_pruning(spark, path, "k", values=[3, 998])) == 2
    assert all(d["kept"] for d in explain_pruning(spark, path, "v", lo=0, hi=10))

    # hash buckets prune at execution (the frame lists every file): the
    # dry run keeps as many files as the executed scan opens
    from nimble_spark.plans.scan_metrics import totals

    bucketed = str(tmp_path / "bucketed")
    write_table(spark.range(1000).selectExpr("id AS k"), bucketed, WriteOptions(bucket_by="k", n_buckets=4))
    dry = explain_pruning(spark, bucketed, "k", values=[3])
    scan = read_table(spark, bucketed, point_lookup=("k", [3]))
    assert 0 < sum(d["kept"] for d in dry) == totals(scan)["numFiles"] < len(dry)
    assert "hash" in {d["pruned_by"] for d in dry if not d["kept"]} <= {"hash", "range"}


def test_write_stats_and_checksums(spark, table_path):
    from nimble_spark.sources.table import read_manifest, verify_table

    m = read_manifest(table_path)
    ws = m["write_stats"]
    # DSL surface mirrors the manifest verbatim
    dsl = {r["stat"]: r["value"] for r in tools.run_command(spark, table_path, "SHOW WRITE STATS").collect()}
    assert dsl == {k: int(v) for k, v in ws.items()}
    assert ws["n_files"] >= 2 and ws["total_bytes"] > 0
    assert ws["write_wall_ms"] >= 0 and ws["manifest_wall_ms"] >= 0
    assert ws["min_file_bytes"] <= ws["max_file_bytes"]
    for f in m["files"]:
        assert len(f["sha256"]) == 64
    assert verify_table(table_path) == []


def test_checksum_detects_corruption(spark, table_path):
    import os
    import shutil
    import tempfile

    import pytest as _pytest

    from nimble_spark.sources.table import read_manifest, read_table, verify_table

    d = tempfile.mkdtemp(prefix="nimble_corrupt_")
    try:
        corrupt = os.path.join(d, "t")
        shutil.copytree(table_path, corrupt)
        victim = read_manifest(corrupt)["files"][0]["path"]
        with open(os.path.join(corrupt, victim), "r+b") as fh:
            fh.seek(100)
            fh.write(b"\x00\xff\x00\xff")
        assert verify_table(corrupt) == [victim]
        # executor-parallel variant: same contract, distributed hash
        from nimble_spark.sources.table import verify_table_distributed

        assert verify_table_distributed(spark, corrupt) == [victim]
        assert verify_table_distributed(spark, table_path) == []
        with _pytest.raises(IOError):
            read_table(spark, corrupt, verify_checksums=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_row_range_scan(spark, table_path):
    from nimble_spark.sources.table import read_manifest, read_table

    total = read_manifest(table_path)["rows"]
    # interior slice, file-order == o_orderkey order (clustered table)
    got = read_table(spark, table_path, row_range=(10, 200)).collect()
    assert len(got) == 190
    all_keys = sorted(
        r["o_orderkey"] for r in read_table(spark, table_path).select("o_orderkey").collect()
    )
    assert sorted(r["o_orderkey"] for r in got) == all_keys[10:200]
    # open-ended / empty / overshoot
    assert read_table(spark, table_path, row_range=(total - 5, total + 99)).count() == 5
    assert read_table(spark, table_path, row_range=(7, 7)).count() == 0

    # seekToRow analogue: seek == row_range to table end
    from nimble_spark.sources.table import seek_to_row

    assert seek_to_row(spark, table_path, total - 17).count() == 17
    assert sorted(
        r["o_orderkey"] for r in seek_to_row(spark, table_path, 10).collect()
    ) == all_keys[10:]


def test_encoding_report_predicted_vs_actual(spark, table_path):
    from nimble_spark.sources.encoding_report import encoding_report

    rep = {r["column"]: r for r in encoding_report(spark, table_path).collect()}
    # low-cardinality string column: cost model predicts dictionary,
    # and parquet's own selection agrees (RLE_DICTIONARY in footers)
    status = rep["o_orderstatus"]
    assert status["predicted"] == "dictionary"
    assert "DICTIONARY" in status["actual_encodings"]  # RLE_ or PLAIN_
    assert status["dict_bytes"] < status["plain_bytes"]
    # unique key column: dictionary can't win; actual bytes recorded
    key = rep["o_orderkey"]
    assert key["predicted"] != "dictionary"
    assert key["actual_bytes"] > 0 and key["ndv"] == key["n"]


def test_show_chunks(spark, table_path):
    chunks = tools.show_chunks(spark, table_path).collect()
    # one row per (file, stripe, column); counts line up with stripes
    files = {r["file"] for r in tools.show_files(spark, table_path).collect()}
    assert {r["file"] for r in chunks} == files
    key_chunks = [r for r in chunks if r["column"] == "o_orderkey"]
    assert all(r["null_count"] == 0 for r in key_chunks)
    # clustered table: chunk min/max are usable skip bounds
    assert all(int(r["min"]) <= int(r["max"]) for r in key_chunks)
    assert tools.run_command(spark, table_path, "SHOW CHUNKS").count() == len(chunks)


def test_encoding_bench_patterns(spark):
    from nimble_spark.tools import encoding_bench

    rows = {r["pattern"]: r for r in encoding_bench(spark, 20_000).collect()}
    assert set(rows) == {
        "constant", "sequential", "run_length", "low_card_64",
        "random_like", "zipf_strings", "uuid_strings",
    }
    # ordering sanity: compressibility must rank as the patterns predict
    assert rows["constant"]["ratio"] > rows["run_length"]["ratio"] > rows["random_like"]["ratio"]
    assert rows["zipf_strings"]["ratio"] > rows["uuid_strings"]["ratio"]
    # dictionary chosen for low-cardinality, not for unique strings
    assert "PLAIN_DICTIONARY" in rows["low_card_64"]["encodings"]
    assert "PLAIN_DICTIONARY" not in rows["uuid_strings"]["encodings"]
    for r in rows.values():
        assert r["encoded_bytes"] > 0 and r["raw_bytes"] > 0


def test_list_tables_catalog(spark, tmp_path):
    from nimble_spark.sources.table import WriteOptions, write_table
    from nimble_spark.tools import list_tables

    root = str(tmp_path / "warehouse")
    src = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    write_table(src, f"{root}/a", WriteOptions())
    write_table(src.limit(10), f"{root}/b", WriteOptions(cluster_by=["k"]))
    (tmp_path / "warehouse" / "not_a_table").mkdir()

    rows = {r["table"]: r for r in list_tables(spark, root).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["rows"] == 100 and rows["b"]["rows"] == 10
    assert rows["b"]["indexes"] and "cluster" in rows["b"]["indexes"]
    assert rows["a"]["n_commits"] >= 1


def test_show_trash_and_vacuum_dsl(spark, tmpdir):
    from nimble_spark.sources.merge import update_where
    from nimble_spark.sources.table import WriteOptions, write_table
    from nimble_spark.tools import run_command

    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    path = f"{tmpdir}/region_trash_dsl"
    write_table(src, path, WriteOptions())
    update_where(spark, path, "r_regionkey >= 0", {"r_name": "upper(r_name)"})

    trash = run_command(spark, path, "SHOW TRASH")
    assert trash.count() >= 1
    assert set(trash.columns) == {"removed_by_commit", "file", "bytes"}
    assert trash.filter("removed_by_commit = 1").count() == trash.count()

    removed = run_command(spark, path, "VACUUM")
    assert removed.count() >= trash.count()
    assert run_command(spark, path, "SHOW TRASH").count() == 0


def test_show_constraints_dsl(spark, tmpdir):
    from nimble_spark.sources.table import WriteOptions, write_table
    from nimble_spark.tools import run_command

    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    path = f"{tmpdir}/region_constraints"
    write_table(src, path, WriteOptions(check_constraints={"key_pos": "r_regionkey >= 0"}))
    rows = run_command(spark, path, "SHOW CONSTRAINTS").collect()
    assert [(r["name"], r["expression"]) for r in rows] == [("key_pos", "r_regionkey >= 0")]


def test_show_schema_nested_tree(spark, tmpdir):
    """SHOW SCHEMA walks nested types (docs/NimbleDSL.md SHOW SCHEMA)."""
    from nimble_spark.tools import run_command

    path = f"{tmpdir}/nested_schema"
    df = spark.sql(
        "SELECT 1 AS k, struct(2 AS a, array(3) AS xs) AS s, map('x', 4) AS m"
    )
    write_table(df, path, WriteOptions())
    rows = {r["path"]: r for r in run_command(spark, path, "SHOW SCHEMA").collect()}
    assert rows["s"]["kind"] == "struct"
    assert rows["s.xs"]["kind"] == "array"
    assert rows["s.xs.element"]["kind"] == "integer"
    assert rows["m.key"]["kind"] == "string" and rows["m.key"]["nullable"] is False
    assert rows["m.value"]["kind"] == "integer"
    assert rows["s.a"]["depth"] == 1 and rows["k"]["depth"] == 0


def test_show_info_and_help(spark, table_path):
    info = {r["key"]: r["value"] for r in tools.run_command(spark, table_path, "SHOW INFO").collect()}
    m_rows = int(info["rows"])
    assert m_rows > 0
    assert int(info["n_files"]) >= 2
    assert int(info["n_stripes"]) >= int(info["n_files"])
    assert info["checksum_type"] == "SHA256"
    assert int(info["total_bytes"]) > 0
    assert tools.run_command(spark, table_path, "HELP").count() >= 5


def test_show_streams_stripe_scoped(spark, table_path):
    """SHOW STREAMS [STRIPE s]: the chunk view scoped to one global
    stripe ordinal (the reference's per-stripe stream listing)."""
    all_chunks = tools.run_command(spark, table_path, "SHOW STREAMS").collect()
    one = tools.run_command(spark, table_path, "SHOW STREAMS STRIPE 1").collect()
    assert 0 < len(one) < len(all_chunks)
    assert len({(r["file"], r["stripe"]) for r in one}) == 1
    with pytest.raises(ValueError):
        tools.run_command(spark, table_path, "SHOW STREAMS STRIPE 9999")


def test_vacuum_min_age_dsl(spark, tmpdir):
    """VACUUM [MIN AGE n]: plain VACUUM respects the 600 s grace for
    fresh root debris; MIN AGE 0 forces the sweep."""
    import shutil as _sh

    from nimble_spark.sources.table import read_manifest

    path = f"{tmpdir}/vac_age"
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    m = write_table(src, path, WriteOptions())
    _sh.copy(f"{path}/{m['files'][0]['path']}", f"{path}/zz-fresh-debris.parquet")
    assert tools.run_command(spark, path, "VACUUM").count() == 0  # grace skips it
    removed = [r["removed_file"] for r in tools.run_command(spark, path, "VACUUM MIN AGE 0").collect()]
    assert removed == ["zz-fresh-debris.parquet"]
    assert read_manifest(path)["rows"] == src.count()


def test_show_encoding_stripe_scoped_and_trailing_semicolon(spark, table_path):
    """SHOW ENCODING [STRIPE s] (docs/NimbleDSL.md) scopes the encoding
    tree to one global stripe ordinal; trailing semicolons/commas are
    optional on every command."""
    full = tools.run_command(spark, table_path, "SHOW ENCODING;").collect()
    assert len(full) > 0
    one = tools.run_command(spark, table_path, "show encoding stripe 0 ;").collect()
    assert 0 < len(one) < len(full)
    assert len({(r["file"], r["stripe"]) for r in one}) == 1
    # the scoped rows are exactly the full rows for that (file, stripe)
    f0, s0 = one[0]["file"], one[0]["stripe"]
    assert len([r for r in full if r["file"] == f0 and r["stripe"] == s0]) == len(one)
    with pytest.raises(ValueError):
        tools.run_command(spark, table_path, "SHOW ENCODING STRIPE 9999")
    assert tools.run_command(spark, table_path, "DESCRIBE;").count() > 0


def test_repl_loop(spark, table_path, monkeypatch, capsys):
    """The interactive REPL: prompts, dispatches, prints errors without
    dying, and exits on QUIT (case-insensitive, trailing ;)."""
    import sys

    import nimble_spark.tools as tools_mod

    lines = iter(["DESCRIBE", "SHOW BOGUS", "", "quit;"])
    monkeypatch.setattr("builtins.input", lambda prompt="": next(lines))
    monkeypatch.setattr(sys, "argv", ["tools", table_path])
    monkeypatch.setattr(
        "nimble_spark.session.get_spark", lambda name=None: spark
    )
    tools_mod.main()
    out = capsys.readouterr().out
    assert "column" in out or "name" in out  # DESCRIBE table printed
    assert "error:" in out  # SHOW BOGUS surfaced, session survived


def test_dsl_full_surface_sweep(spark, table_path):
    """Every command the dispatcher documents must execute against a
    real table without raising and return a materializable DataFrame —
    guards drift between the HELP text and the dispatcher as commands
    are added (concrete args substituted for the placeholders)."""
    sweep = [
        "DESCRIBE",
        "SHOW SCHEMA",
        "SHOW INFO",
        "SHOW STATS",
        "SHOW FILES",
        "SHOW PAGES",
        "SHOW STRIPES",
        "SHOW HISTOGRAM",
        "SHOW HISTOGRAM STRIPE 0",
        "SHOW CHUNKS",
        "SHOW CHUNKS STRIPE 0",
        "SHOW STREAMS",
        "SHOW STREAMS STRIPE 0",
        "SHOW ENCODING",
        "SHOW ENCODING STRIPE 0",
        "SHOW INDEX",
        "SHOW METRICS",
        "SHOW WRITE STATS",
        "SHOW HISTORY",
        "SHOW TRASH",
        "SHOW CONSTRAINTS",
        "SHOW LAYOUT",
        "DUMP BINARY STRIPE 0 LIMIT 64",
        "SHOW SCAN METRICS",
        "SHOW SCAN METRICS WHERE o_orderkey <= 100",
        "EXPLAIN PRUNING o_orderkey BETWEEN 1 AND 100",
        "EXPLAIN PRUNING o_orderkey IN (1, 2, 3)",
        "SELECT o_orderkey, o_totalprice LIMIT 5",
        "SELECT * LIMIT 3 OFFSET 2",
        "SELECT o_orderkey LIMIT 2 STRIPE 0",
        "VACUUM",
        "HELP",
    ]
    for cmd in sweep:
        df = tools.run_command(spark, table_path, cmd)
        df.collect()  # materialize: dispatch AND execution must work
        assert df.schema is not None, cmd
    # every command family named in HELP appears in the sweep
    help_text = " ".join(
        r["commands"] for r in tools.run_command(spark, table_path, "HELP").collect()
    )
    for kw in ("DESCRIBE", "SHOW SCHEMA", "SHOW ENCODING", "VACUUM", "SELECT",
               "EXPLAIN PRUNING", "SHOW SCAN METRICS", "SHOW WRITE STATS",
               "SHOW LAYOUT", "DUMP BINARY"):
        assert kw in help_text, kw


def test_show_layout_byte_accurate(spark, table_path):
    """SHOW LAYOUT (emitFileLayout analogue, NimbleDumpLib.h:52-60):
    per file, sections in byte order — magic at 0, column chunks with
    in-file offsets, footer ending exactly at file size."""
    import os

    rows = tools.run_command(spark, table_path, "SHOW LAYOUT").collect()
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["file"], []).append(r)
    assert by_file
    for rel, secs in by_file.items():
        size = os.path.getsize(os.path.join(table_path, rel))
        secs = sorted(secs, key=lambda r: r["offset"])
        assert secs[0]["section"] == "magic" and secs[0]["offset"] == 0
        assert secs[-1]["section"] == "footer_len_magic"
        assert secs[-1]["offset"] + secs[-1]["bytes"] == size
        footer = [r for r in secs if r["section"] == "footer"]
        assert len(footer) == 1 and footer[0]["offset"] + footer[0]["bytes"] == size - 8
        chunks = [r for r in secs if r["section"] == "column_chunk"]
        # one chunk per (stripe, column); all within the data region
        assert chunks and all(
            4 <= r["offset"] and r["offset"] + r["bytes"] <= footer[0]["offset"]
            for r in chunks
        )
        # non-overlapping, sorted chunks
        for a, b in zip(chunks, chunks[1:]):
            assert a["offset"] + a["bytes"] <= b["offset"]


def test_dump_binary_bounded_hex(spark, table_path):
    """DUMP BINARY (emitBinary analogue): 16-byte hex rows, capped at
    LIMIT bytes per chunk, byte-accurate against the file on disk."""
    import os

    rows = tools.run_command(
        spark, table_path, "DUMP BINARY STRIPE 0 COLUMN o_orderkey LIMIT 48"
    ).collect()
    assert rows and all(r["column"].startswith("o_orderkey") for r in rows)
    assert len(rows) <= 3  # 48 bytes → ≤3 hex rows
    first = rows[0]
    with open(os.path.join(table_path, first["file"]), "rb") as fh:
        fh.seek(first["offset"])
        want = fh.read(16)
    assert first["hex"] == " ".join(f"{b:02x}" for b in want)
    # unknown column raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no column"):
        tools.run_command(spark, table_path, "DUMP BINARY STRIPE 0 COLUMN nope")
