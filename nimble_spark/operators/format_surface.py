"""Format-surface conformance queries: every result is produced by
writing driver tables THROUGH the nimble_spark connector (write_table →
read_table) and querying the round-tripped data, while the DuckDB
oracle reads the original parquet — so a hash match proves the
connector is lossless AND the index paths return exactly the right
rows (the reference's round-trip + E2E index test strategy,
dwio/nimble/velox/tests/VeloxWriterTest.cpp /
velox/selective/tests/E2EIndexTest.cpp).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import dsum, dsum_sql, lsum, lsum_sql, rnd, rnd_sql
from nimble_spark.registry import register
from nimble_spark.sources.cache import ensure_cached
from nimble_spark.sources.table import WriteOptions, read_table, write_table
from nimble_spark.tables import load

R4 = 4


def _ensure_written(spark: SparkSession, sf_dir: str, name: str, variant: str, opts: WriteOptions) -> str:
    """Write-once cache per (sf_dir, table, variant, source
    fingerprint): the write is part of what's under test, but
    rewriting identical input every query run would only re-test the
    same thing. Fingerprinted + atomically renamed (sources/cache.py)
    so regenerated corpora rebuild and concurrent runs don't race."""
    return ensure_cached(
        sf_dir,
        f"{name}__{variant}",
        [name],
        lambda tmp: write_table(load(spark, sf_dir, name), tmp, opts),
    )


@register(
    "q_roundtrip_cluster_scan",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {dsum_sql("l_extendedprice")} AS rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1995-12-31 23:59:59'
    GROUP BY l_returnflag
    """,
    category="format",
)
def q_roundtrip_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-index range scan: lineitem is rewritten clustered by
    l_shipdate (range-partitioned + sorted), then scanned via
    manifest min/max file pruning — only files whose key range
    intersects 1995 are read (ClusterIndex analogue)."""
    path = _ensure_written(
        spark, sf_dir, "lineitem", "cluster_shipdate", WriteOptions(cluster_by=["l_shipdate"])
    )
    import datetime

    lo = datetime.datetime(1995, 1, 1)
    hi = datetime.datetime(1995, 12, 31, 23, 59, 59)
    df = read_table(spark, path, range_scan=("l_shipdate", lo, hi))
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("rev")
    )


@register(
    "q_point_lookup_cluster",
    oracle="""
    SELECT o_orderkey, o_custkey, FLOOR((o_totalprice) * 10000 + 0.5) / 10000 AS price
    FROM orders
    WHERE o_orderkey IN (1, 77, 500, 4242, 14999)
    """,
    category="format",
)
def q_point_lookup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on a cluster-indexed table (sorted by o_orderkey):
    manifest pruning narrows to the files whose key bounds cover the
    probe set — the index-lookup-join serving path
    (SelectiveNimbleIndexReader.h:36-62 analogue)."""
    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    df = read_table(spark, path, point_lookup=("o_orderkey", [1, 77, 500, 4242, 14999]))
    return df.select("o_orderkey", "o_custkey", rnd("o_totalprice", 4).alias("price"))


@register(
    "q_point_lookup_hash",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql("o_totalprice")} AS spent
    FROM orders
    WHERE o_custkey IN (3, 42, 777, 1200)
    GROUP BY o_custkey
    """,
    category="format",
)
def q_point_lookup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the hash index (bucketed directories on
    o_custkey): only the buckets hashing the probe keys are listed —
    HashIndex exact point lookup on unsorted data
    (dwio/nimble/index/HashIndex.h:57 analogue)."""
    path = _ensure_written(
        spark, sf_dir, "orders", "hash_custkey", WriteOptions(bucket_by="o_custkey", n_buckets=16)
    )
    df = read_table(spark, path, point_lookup=("o_custkey", [3, 42, 777, 1200]))
    return df.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("spent")
    )


@register(
    "q_bloom_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, FLOOR((o_totalprice) * 10000 + 0.5) / 10000 AS price
    FROM orders
    WHERE o_orderkey IN (2, 333, 7777, 14998, 99999999)
    """,
    category="format",
)
def q_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup (dwio/nimble/index/BloomFilter.h:34
    analogue): orders is rewritten UNSORTED across 8 files with a
    parquet bloom filter on o_orderkey — min/max pruning is useless
    (random key order makes every file's range span the domain), so
    the scan consults the footer blooms and reads only the files that
    might hold a probe key. The probe set includes a key that exists
    nowhere (99999999): its lookups are answered by bloom veto alone.
    tests/test_table_connector.py asserts the pruning actually skips
    files; this query proves the pruned scan returns exactly the
    right rows."""
    path = ensure_cached(
        sf_dir,
        "orders__bloom_orderkey",
        ["orders"],
        # hash-shuffle on an uncorrelated key so every file's
        # o_orderkey min/max spans the whole domain — blooms, not
        # ranges, must do the skipping
        lambda tmp: write_table(
            load(spark, sf_dir, "orders").repartition(8, "o_custkey"),
            tmp,
            WriteOptions(bloom_cols=["o_orderkey"]),
        ),
    )
    df = read_table(
        spark, path, point_lookup=("o_orderkey", [2, 333, 7777, 14998, 99999999])
    )
    return df.select("o_orderkey", "o_custkey", rnd("o_totalprice", 4).alias("price"))


@register(
    "q_explain_pruning",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_in_range,
           TRUE AS dry_run_matches, TRUE AS out_of_range_all_pruned
    FROM orders WHERE o_orderkey BETWEEN 100 AND 200
    """,
    category="tools",
)
def q_explain_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN PRUNING (index-selection trace): the dry-run's kept
    set must equal the real pruning decision for an in-range
    predicate, an out-of-domain predicate must prune every file, and
    the pruned scan must count exactly the SQL rows — the dry run,
    the scan path, and the data all agree."""
    from nimble_spark.sources.bloom import explain_pruning
    from nimble_spark.sources.table import _range_scan_entries, read_manifest

    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    m = read_manifest(path)
    dry = explain_pruning(spark, path, "o_orderkey", lo=100, hi=200)
    kept = {d["file"] for d in dry if d["kept"]}
    real = {f["path"] for f in _range_scan_entries(m, path, "o_orderkey", 100, 200)}
    out_of_range = explain_pruning(spark, path, "o_orderkey", lo=10**9, hi=2 * 10**9)
    n = read_table(spark, path, range_scan=("o_orderkey", 100, 200)).count()
    return spark.createDataFrame(
        [(n, kept == real, all(not d["kept"] for d in out_of_range))],
        "rows_in_range BIGINT, dry_run_matches BOOLEAN, out_of_range_all_pruned BOOLEAN",
    )


@register(
    "q_time_travel",
    oracle=f"""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey < 5000) AS n_snap0,
           (SELECT COUNT(*) FROM orders) AS n_head,
           (SELECT {dsum_sql("o_totalprice")} FROM orders WHERE o_orderkey < 5000)
             AS snap0_total
    """,
    category="format",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reads over the commit log: the table is built as two
    commits (orderkey < 5000, then the rest); reading as_of_commit=0
    must see exactly the first commit's rows — counts and an exact
    decimal total both match the SQL over the same key split — while
    the head read sees everything."""
    from nimble_spark.sources.table import read_manifest

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        write_table(o.filter(F.col("o_orderkey") < 5000), tmp, WriteOptions())
        write_table(o.filter(F.col("o_orderkey") >= 5000), tmp, WriteOptions(), mode="append")

    path = ensure_cached(sf_dir, "orders__two_commits", ["orders"], _build)
    snap0 = read_table(spark, path, as_of_commit=0)
    head = read_table(spark, path)
    a0 = snap0.agg(
        F.count(F.lit(1)).alias("n_snap0"), dsum("o_totalprice").alias("snap0_total")
    )
    h = head.agg(F.count(F.lit(1)).alias("n_head"))
    return a0.crossJoin(h).select("n_snap0", "n_head", "snap0_total")


@register(
    "q_table_properties",
    oracle="""
    SELECT 'data-eng' AS owner, '0' AS retention, '1' AS reclaimed,
           'cas' AS discipline, CAST(4 AS INT) AS n_props,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows
    """,
    category="tools",
)
def q_table_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: table properties (Iceberg/Delta TBLPROPERTIES analogue) —
    free-form pairs plus the reserved ``nimble.*`` engine knobs, set
    through both commit-discipline APIs and read back through the DSL
    (SHOW PROPERTIES). r10: the first root mutation STAMPS the table's
    commit discipline (``nimble.commit.root_discipline``) and later
    mutations through the other API auto-route to it — so the CAS set
    comes first here and the lock-path sets join it losslessly. The
    retention knob is FUNCTIONAL: with ``nimble.vacuum.min_age_s='0'``
    set, an argument-less ``vacuum_table`` reclaims fresh debris
    immediately (default grace is 600 s) — the build plants one debris
    file, vacuums with no args, and records the reclaim count as a
    property so the cached table stays immutable for re-runs."""
    import os as _os

    from nimble_spark.sources.compaction import vacuum_table
    from nimble_spark.sources.table import (
        _ROOT_DISCIPLINE_PROP,
        set_table_property,
        table_properties,
    )
    from nimble_spark.tools import run_command

    def _build(tmp: str) -> None:
        write_table(load(spark, sf_dir, "orders"), tmp, WriteOptions())
        set_table_property(
            tmp, "nimble.vacuum.min_age_s", "0", optimistic=True
        )  # CAS publish — stamps the table's discipline
        set_table_property(tmp, "owner", "data-eng")  # lock API: auto-routed
        with open(_os.path.join(tmp, "zz-debris.parquet"), "wb") as fh:
            fh.write(b"not a real parquet")
        removed = vacuum_table(tmp)  # no args: property-driven grace
        set_table_property(tmp, "test.reclaimed", str(len(removed)))

    path = ensure_cached(sf_dir, "orders__props2", ["orders"], _build)
    props = table_properties(path)
    n_dsl = run_command(spark, path, "SHOW PROPERTIES").count()
    n_rows = read_table(spark, path).count()
    return spark.createDataFrame(
        [(
            props.get("owner"),
            props.get("nimble.vacuum.min_age_s"),
            props.get("test.reclaimed"),
            props.get(_ROOT_DISCIPLINE_PROP),
            int(n_dsl),
            int(n_rows),
        )],
        "owner STRING, retention STRING, reclaimed STRING, "
        "discipline STRING, n_props INT, n_rows BIGINT",
    )


@register(
    "q_expire_snapshots",
    oracle="""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS head_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 3 <> 0
               OR (o_orderkey % 3 = 0 AND o_orderkey % 2 = 0)) AS base_rows,
           CAST(2 AS INT) AS retained, CAST(2 AS BIGINT) AS base_commit,
           CAST(3 AS BIGINT) AS head_commit
    """,
    category="tools",
)
def q_expire_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: commit-log retention (Iceberg expireSnapshots analogue) —
    the table is built as 4 commits (thirds of orders, then a
    rollback-free append chain), then EXPIRE SNAPSHOTS KEEP 2 folds
    everything older than the newest two readable snapshots into a
    replay base with STABLE commit numbers: the head read is
    unchanged, time travel to the fold base reconstructs its exact
    state, the retained log is exactly 2 entries, and the numbering
    continues from where it was (base_commit=2, head_commit=3). The
    100 TB point: per-rewrite file lists make the unexpired commit log
    the one manifest object the sharded O(new-files) appends do NOT
    bound — expiry is the complementary knob."""
    from nimble_spark.sources.table import expire_snapshots, read_manifest

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        write_table(o.filter("o_orderkey % 3 = 1"), tmp, WriteOptions())
        write_table(o.filter("o_orderkey % 3 = 2"), tmp, mode="append")
        # commit 2 = the fold base the oracle checks (2/3 of orders)
        write_table(
            o.filter("o_orderkey % 3 = 0 AND o_orderkey % 2 = 0"),
            tmp, mode="append",
        )
        write_table(
            o.filter("o_orderkey % 3 = 0 AND o_orderkey % 2 = 1"),
            tmp, mode="append",
        )
        expire_snapshots(tmp, keep_last=2)

    path = ensure_cached(sf_dir, "orders__expired", ["orders"], _build)
    commits = read_manifest(path)["commits"]
    head = read_table(spark, path).agg(F.count(F.lit(1)).alias("head_rows"))
    # the fold base (commit 2): thirds 1+2 plus the even half of third 0
    base = read_table(spark, path, as_of_commit=int(commits[0]["commit"])).agg(
        F.count(F.lit(1)).alias("base_rows_raw")
    )
    return head.crossJoin(base).select(
        "head_rows",
        F.col("base_rows_raw").alias("base_rows"),
        F.lit(len(commits)).cast("int").alias("retained"),
        F.lit(int(commits[0]["commit"])).cast("bigint").alias("base_commit"),
        F.lit(int(commits[-1]["commit"])).cast("bigint").alias("head_commit"),
    )


@register(
    "q_expire_cdc_bootstrap",
    oracle="""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS bootstrap_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 1) AS incr_rows
    """,
    category="tools",
)
def q_expire_cdc_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: the CDC contract across expire_snapshots — on the same
    expired fixture as q_expire_snapshots (retained log = [base 2,
    head 3]), ``read_changes(since_commit=-1)`` must replay the FULL
    table from the fold base (whose entry carries the complete file
    set as of commit 2), and the in-window incremental
    ``since_commit=2`` must deliver exactly commit 3's rows — a
    consumer synced inside the retained window is untouched by the
    fold, one behind it re-bootstraps (pinned in
    tests/test_expire_snapshots.py)."""
    from nimble_spark.sources.table import expire_snapshots, read_changes

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        write_table(o.filter("o_orderkey % 3 = 1"), tmp, WriteOptions())
        write_table(o.filter("o_orderkey % 3 = 2"), tmp, mode="append")
        write_table(
            o.filter("o_orderkey % 3 = 0 AND o_orderkey % 2 = 0"),
            tmp, mode="append",
        )
        write_table(
            o.filter("o_orderkey % 3 = 0 AND o_orderkey % 2 = 1"),
            tmp, mode="append",
        )
        expire_snapshots(tmp, keep_last=2)

    path = ensure_cached(sf_dir, "orders__expired", ["orders"], _build)
    boot = read_changes(spark, path, since_commit=-1).agg(
        F.count(F.lit(1)).alias("bootstrap_rows")
    )
    incr = read_changes(spark, path, since_commit=2).agg(
        F.count(F.lit(1)).alias("incr_rows")
    )
    return boot.crossJoin(incr).select("bootstrap_rows", "incr_rows")


@register(
    "q_table_history",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS commit, 'overwrite' AS mode,
           CAST(COUNT(*) AS BIGINT) AS rows_added
    FROM orders
    """,
    category="tools",
)
def q_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log provenance (SHOW HISTORY): a freshly written table
    has exactly one overwrite commit whose rows_added equals the SQL
    COUNT — the log's row accounting and the data can never drift.
    Streaming sink micro-batches extend the same log (asserted in
    tests/test_table_connector.py for the append path)."""
    from nimble_spark.tools import show_history

    path = _ensure_written(spark, sf_dir, "orders", "history", WriteOptions())
    return show_history(spark, path).select("commit", "mode", "rows_added")


@register(
    "q_zorder_scan",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {dsum_sql("o_totalprice")} AS total
    FROM orders
    WHERE o_totalprice BETWEEN 1000.0 AND 20000.0
    GROUP BY o_orderstatus
    """,
    category="format",
)
def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order multi-dimensional cluster index: orders is laid out on
    the bit-interleaved z-value of (o_custkey, o_totalprice), so a
    range scan on the SECOND dimension — where a 1-D cluster index is
    blind — still prunes files via per-file min/max, and the pruned
    scan aggregates identically to the source. The
    tests/test_table_connector.py zorder test asserts the actual
    file-skip on both dimensions."""
    path = _ensure_written(
        spark,
        sf_dir,
        "orders",
        "zorder_cust_price",
        WriteOptions(zorder_by=["o_custkey", "o_totalprice"], n_cluster_files=8),
    )
    df = read_table(spark, path, range_scan=("o_totalprice", 1000.0, 20000.0))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


@register(
    "q_fast_count",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1000 AND 9000)
             AS n_range,
           (SELECT COUNT(*) FROM orders) AS n_total
    """,
    category="format",
)
def q_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-answered COUNT (the tablet footer's per-stripe row
    counts): the unfiltered count is pure manifest arithmetic (zero
    IO), and the range count reads ONLY the boundary files whose
    [min,max] straddles an endpoint — interior files contribute their
    manifest row counts unopened. Both must equal the SQL counts over
    the source."""
    from nimble_spark.sources.compaction import fast_count

    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    n_range = fast_count(spark, path, ("o_orderkey", 1000, 9000))
    n_total = fast_count(spark, path)
    return spark.createDataFrame([(n_range, n_total)], "n_range BIGINT, n_total BIGINT")


@register(
    "q_compaction_roundtrip",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {dsum_sql("l_extendedprice")} AS rev,
           TRUE AS compacted
    FROM lineitem
    WHERE l_orderkey BETWEEN 500 AND 2500
    GROUP BY l_returnflag
    """,
    category="format",
)
def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources/compaction.py — the flush-policy
    stripe-size discipline of VeloxWriterOptions applied retroactively):
    lineitem is written clustered with an artificially small per-file
    row cap (the streaming-append small-file debt), compacted to
    ~8 MB bins, and range-scanned. The aggregate must match the
    source exactly AND the manifest must show fewer files than before
    compaction — proving the merge changed layout, not data, and the
    cluster pruning metadata survived the rewrite."""
    from nimble_spark.sources.compaction import compact_table
    from nimble_spark.sources.table import read_manifest

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "lineitem"),
            tmp,
            WriteOptions(cluster_by=["l_orderkey"], n_cluster_files=4, max_rows_per_file=4000),
        )
        compact_table(spark, tmp, target_file_bytes=8 * 1024 * 1024)

    path = ensure_cached(sf_dir, "lineitem__compacted", ["lineitem"], _build)
    m = read_manifest(path)
    files_before = int(m["user_metadata"].get("compaction.files_before", 0))
    compacted = 0 < len(m["files"]) < files_before
    df = read_table(spark, path, range_scan=("l_orderkey", 500, 2500))
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("rev"),
        F.lit(bool(compacted)).alias("compacted"),
    )


@register(
    "q_chunk_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(0 AS BIGINT) AS n_nulls
    FROM orders
    """,
    category="format",
)
def q_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk statistics parity (ChunkStats,
    dwio/nimble/tablet/ChunkStats.fbs:12-42 / index/ChunkStats.cpp):
    SHOW CHUNKS reads per-(file, stripe, column) value counts, null
    counts and typed min/max straight from the column-chunk footers —
    the stats the reader skips chunks on. Re-aggregating the chunk
    rows for one column must reproduce the table-level COUNT/MIN/MAX
    exactly: the skipping metadata and the data can never disagree."""
    from nimble_spark.tools import show_chunks

    path = _ensure_written(spark, sf_dir, "orders", "plain", WriteOptions())
    chunks = show_chunks(spark, path).filter(F.col("column") == "o_orderkey")
    return chunks.agg(
        F.sum("rows").alias("n_rows"),
        F.min(F.col("min").cast("bigint")).alias("min_key"),
        F.max(F.col("max").cast("bigint")).alias("max_key"),
        F.sum("null_count").alias("n_nulls"),
    )


@register(
    "q_write_stats_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS stats_ok FROM orders
    """,
    category="format",
)
def q_write_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer runtime stats (VeloxWriter::RunStats,
    dwio/nimble/velox/VeloxWriter.h:78-115): the manifest's write
    phase wall times and stripe-size distribution must be internally
    consistent, and its row accounting must equal the data's actual
    COUNT — a writer-stats regression (dropped file, double count)
    flips either column."""
    from nimble_spark.sources.table import read_manifest

    path = _ensure_written(spark, sf_dir, "orders", "plain", WriteOptions())
    m = read_manifest(path)
    ws = m["write_stats"]
    ok = (
        ws["write_wall_ms"] >= 0
        and ws["manifest_wall_ms"] >= 0
        and 1 <= ws["n_files"] <= ws["n_row_groups"]
        and 0 < ws["min_file_bytes"] <= ws["max_file_bytes"] <= ws["total_bytes"]
        and sum(f["rows"] for f in m["files"]) == m["rows"]
        # distribution surface (rowsPerStripe / stripeSize dists,
        # VeloxWriter.h:78-115): ordered quantiles, row accounting
        # consistent with the per-file entries, and the row-group size
        # distribution actually populated from the footers
        and 0 < ws["min_file_rows"] <= ws["p50_file_rows"] <= ws["max_file_rows"] <= m["rows"]
        and 0 < ws["min_rg_bytes"] <= ws["p50_rg_bytes"] <= ws["max_rg_bytes"]
        and ws["min_file_rows"] == min(f["rows"] for f in m["files"])
        # .get: entries reused from pre-distribution manifests may lack
        # rg_bytes — _layout_stats covers the files that have it, and
        # the audit must report stats_ok=False, not crash
        and ws["max_rg_bytes"]
        == max((b for f in m["files"] for b in f.get("rg_bytes", [])), default=-1)
    )
    return spark.createDataFrame([(m["rows"], bool(ok))], "n_rows BIGINT, stats_ok BOOLEAN")


@register(
    "q_dsl_show_stats",
    oracle="""
    SELECT 'o_custkey' AS col_name, CAST(MIN(o_custkey) AS VARCHAR) AS min_v,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_v, CAST(0 AS BIGINT) AS nulls
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', CAST(MIN(o_orderkey) AS VARCHAR),
           CAST(MAX(o_orderkey) AS VARCHAR), CAST(0 AS BIGINT)
    FROM orders
    """,
    category="tools",
)
def q_dsl_show_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NimbleDSL surface under the driver gate (NimbleDslVm.cpp /
    NimbleDumpLib.h:37-62): `SHOW STATS` dispatched through the DSL
    string interface must report per-column min/max/null-count that
    match SQL MIN/MAX over the source — the dump tool is only useful
    if its numbers are the table's numbers."""
    from nimble_spark.tools import run_command

    path = _ensure_written(spark, sf_dir, "orders", "plain", WriteOptions())
    stats = run_command(spark, path, "SHOW STATS")
    return (
        stats.filter(F.col("column").isin("o_orderkey", "o_custkey"))
        .select(
            F.col("column").alias("col_name"),
            F.col("min").alias("min_v"),
            F.col("max").alias("max_v"),
            F.col("null_count").alias("nulls"),
        )
    )


@register(
    "q_scan_metrics_pruning",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_read, TRUE AS files_pruned
    FROM orders WHERE o_orderstatus = 'F'
    """,
    category="format",
)
def q_scan_metrics_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader runtime stats as a correctness check (VeloxReadParams'
    stripeCount/IO callbacks, dwio/nimble/velox/VeloxReader.h:57-65):
    orders is written Hive-partitioned by o_orderstatus; a scan
    filtered to one status must (a) report rows_read from the scan
    node's own SQLMetric equal to the SQL COUNT — proving the metric
    is trustworthy — and (b) open strictly fewer files than the
    manifest lists — proving partition pruning actually skipped the
    other directories. The numbers come from the executed plan, not
    the data, so a silent pruning regression flips files_pruned."""
    from nimble_spark.plans.scan_metrics import totals
    from nimble_spark.sources.table import read_manifest

    path = _ensure_written(
        spark, sf_dir, "orders", "part_status", WriteOptions(partition_by=["o_orderstatus"])
    )
    files_listed = len(read_manifest(path)["files"])
    scan = read_table(spark, path).filter(F.col("o_orderstatus") == "F")
    # probe through a 1-row agg so the driver never receives data rows;
    # the scan node's metrics still reflect the full partition read
    t = totals(scan.agg(F.count(F.lit(1))))
    rows = [(int(t.get("numOutputRows", 0)), int(t.get("numFiles", 0)) < files_listed)]
    return spark.createDataFrame(rows, "rows_read BIGINT, files_pruned BOOLEAN")


@register(
    "q_sorted_index_fence",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey IN (5, 105)) AS n_hits,
           TRUE AS stale_safe
    FROM (SELECT 1)
    """,
    category="format",
)
def q_sorted_index_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-index staleness fence under the driver gate: the index
    is built BEFORE an append, so its file-set fingerprint no longer
    matches the manifest — the lookup must bypass the stale index
    (falling back to an always-correct path) and still find keys
    from BOTH the indexed and the appended halves. An index that
    silently missed appended rows would return fewer hits and flip
    the count."""
    from nimble_spark.sources.table import create_sorted_index, read_manifest

    def _build(tmp: str) -> None:
        c = load(spark, sf_dir, "customer")
        write_table(c.filter(F.col("c_custkey") < 100), tmp, WriteOptions())
        create_sorted_index(spark, tmp, "c_custkey")
        write_table(c.filter(F.col("c_custkey") >= 100), tmp, WriteOptions(), mode="append")

    path = ensure_cached(sf_dir, "customer__stale_sorted", ["customer"], _build)
    m = read_manifest(path)
    # the fence must be registered and genuinely stale
    stale = "c_custkey" in m["indexes"].get("sorted", []) and m["indexes"].get(
        "sorted_fence", {}
    ).get("c_custkey") is not None
    hits = read_table(spark, path, point_lookup=("c_custkey", [5, 105]))
    return hits.agg(F.count(F.lit(1)).alias("n_hits")).select(
        "n_hits", F.lit(bool(stale)).alias("stale_safe")
    )


@register(
    "q_cut_stripe_scan",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(1 AS BIGINT) AS max_files_per_user,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    """,
    category="format",
)
def q_cut_stripe_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-driven stripe cutting (VeloxWriterOptions.h:289-295 /
    NimbleConfig.h:85-111 — 'cut stripe per user-id group'): events
    written cut_by user_id lay every user's rows contiguously in
    exactly ONE file. The proof comes from the scan itself:
    input_file_name() per user must show max 1 distinct file — the
    no-group-spans-files contract, checked on the stored bytes, not
    the writer's intent."""
    path = _ensure_written(
        spark, sf_dir, "events", "cut_user", WriteOptions(cut_by="user_id", n_cut_files=8)
    )
    per_user = (
        read_table(spark, path)
        .select("user_id", F.input_file_name().alias("f"))
        .groupBy("user_id")
        .agg(F.countDistinct("f").alias("nf"))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.max("nf").alias("max_files_per_user"),
    ).crossJoin(
        read_table(spark, path).agg(F.count(F.lit(1)).alias("n_events"))
    ).select("n_users", "max_files_per_user", "n_events")


@register(
    "q_checksum_verified_scan",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {dsum_sql("o_totalprice")} AS total
    FROM orders GROUP BY o_orderstatus
    """,
    category="format",
)
def q_checksum_verified_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity-verified scan (Postscript checksum analogue,
    dwio/nimble/tablet/Postscript.h:27-30): every data file is
    re-hashed against the manifest sha256 before the scan proceeds —
    a read that silently consumed a corrupted or swapped file is
    impossible (the corrupt path raising is covered in
    tests/test_tools.py). The verified read must aggregate
    identically to the source."""
    path = _ensure_written(spark, sf_dir, "orders", "plain", WriteOptions())
    df = read_table(spark, path, verify_checksums=True)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


@register(
    "q_composite_cluster_scan",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {dsum_sql("o_totalprice")} AS total,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_d
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
    """,
    category="format",
)
def q_composite_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite sort-key cluster index — the KeyEncoding /
    IndexKeyEncoder analogue (dwio/nimble/index/KeyEncoder.h: multi-
    column keys encode into one comparable byte key): cluster_by
    ['o_orderstatus','o_orderdate'] range-partitions on the tuple, so
    per-file bounds on the LEADING key are disjoint and a prefix-key
    scan prunes files exactly like a single-key cluster index, while
    rows inside each file stay (status, date)-ordered for the
    secondary dimension."""
    path = _ensure_written(
        spark,
        sf_dir,
        "orders",
        "cluster_status_date",
        WriteOptions(cluster_by=["o_orderstatus", "o_orderdate"], n_cluster_files=6),
    )
    df = read_table(spark, path, range_scan=("o_orderstatus", "F", "F"))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total"),
        F.min("o_orderdate").alias("first_d"),
    )


@register(
    "q_array_struct_roundtrip",
    oracle=f"""
    SELECT COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {dsum_sql("value")} AS total_v,
           CAST(MIN(event_id) AS BIGINT) AS min_ev,
           CAST(MAX(event_id) AS BIGINT) AS max_ev
    FROM events
    """,
    category="format",
)
def q_array_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-nesting storage parity (list<struct<…>> — the shape the
    reference's FieldWriter tree exists for, SURVEY §1.1): events
    nest into one row per user holding a sorted array of
    (ts, event_id, value) structs, ride storage, re-explode, and must
    aggregate identically to the flat table — the nest → store →
    unnest cycle is lossless at every level."""
    def _build(tmp: str) -> None:
        e = load(spark, sf_dir, "events").select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("value")
            ).alias("ev"),
        )
        nested = e.groupBy("user_id").agg(
            F.array_sort(F.collect_list("ev")).alias("events")
        )
        write_table(nested, tmp, WriteOptions())

    path = ensure_cached(sf_dir, "events__nested_arr", ["events"], _build)
    back = read_table(spark, path).select(
        "user_id", F.explode("events").alias("ev")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum(F.col("ev.value")).alias("total_v"),
        F.min("ev.event_id").alias("min_ev"),
        F.max("ev.event_id").alias("max_ev"),
    )


@register(
    "q_nested_struct_roundtrip",
    oracle=f"""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           {dsum_sql("o_totalprice")} AS total
    FROM orders GROUP BY 1
    """,
    category="format",
)
def q_nested_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type storage parity (SURVEY §1.1 — the reference's
    defining feature is rich nested rows): orders rides a
    struct-typed column through the connector, and aggregating the
    nested fields after readback must equal the flat-column SQL.
    tests/test_plan_audit.py asserts the scan's ReadSchema prunes to
    just the referenced struct LEAF (nestedSchemaPruning) — nested
    data never makes partial reads read the whole struct."""
    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.struct(
                F.col("o_totalprice").alias("price"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderdate").alias("when"),
            ).alias("info"),
        )
        write_table(o, tmp, WriteOptions())

    path = ensure_cached(sf_dir, "orders__nested_struct", ["orders"], _build)
    df = read_table(spark, path)
    return df.groupBy(F.col("info.status").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("info.price")).alias("total")
    )


@register(
    "q_schema_evolution",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS c_phone,
           CAST(NULL AS BIGINT) AS c_loyalty_pts
    FROM customer WHERE c_custkey <= 100
    """,
    category="format",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column evolution: projecting a column that does not exist in
    the written file returns TYPED nulls (NullColumnReader analogue,
    dwio/nimble/velox/selective/ColumnReader.cpp:57-62) — c_phone as
    the string default, c_loyalty_pts as a reader-declared bigint so a
    downstream join/sum on the evolved column keeps its semantics."""
    path = _ensure_written(spark, sf_dir, "customer", "plain", WriteOptions())
    df = read_table(
        spark,
        path,
        columns=["c_custkey", "c_name", "c_phone", "c_loyalty_pts"],
        evolved_types={"c_loyalty_pts": "bigint"},
    )
    return df.filter(F.col("c_custkey") <= 100)


@register(
    "q_row_range_scan",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_custkey LIMIT 700 OFFSET 500
    """,
    category="format",
)
def q_row_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seekToRow/skipRows analogue (dwio/nimble/velox/VeloxReader.h:
    114-153): rows [500, 1200) of the table in file order. The table
    is clustered by c_custkey, so file order IS key order and the
    oracle is ORDER BY + LIMIT/OFFSET. Files wholly outside the range
    are skipped from the manifest's per-file row counts (stripe
    skipping); boundary files trim via _metadata.row_index."""
    path = _ensure_written(
        spark, sf_dir, "customer", "cluster_custkey",
        WriteOptions(cluster_by=["c_custkey"], n_cluster_files=6),
    )
    df = read_table(spark, path, row_range=(500, 1200))
    return df.select("c_custkey", "c_name", "c_acctbal")


@register(
    "q_lookup_join",
    oracle=f"""
    SELECT l_orderkey, COUNT(*) AS n_lines, {dsum_sql("l_extendedprice")} AS order_rev
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY l_orderkey
    """,
    category="format",
)
def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index lookup join: probe keys (high-value orders) drive a pruned
    scan of the cluster-indexed lineitem copy, then aggregate. At
    scale this is the broadcast-keys + sorted-bucketed-table pattern
    standing in for SelectiveNimbleIndexReader batch lookups."""
    path = _ensure_written(
        spark, sf_dir, "lineitem", "cluster_orderkey", WriteOptions(cluster_by=["l_orderkey"])
    )
    keys_df = (
        load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    )
    # Driver sees only the probe-key BOUNDS (one 2-value row), never
    # the key set: bounds drive manifest file pruning, the keys stay
    # distributed and join as a broadcast semi-join.
    lo, hi = keys_df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    if lo is None:
        df = read_table(spark, path, point_lookup=("l_orderkey", [-1]))
    else:
        df = read_table(spark, path, range_scan=("l_orderkey", lo, hi))
        df = df.join(keys_df, df.l_orderkey == keys_df.o_orderkey, "left_semi")
    return df.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"), dsum("l_extendedprice").alias("order_rev")
    )


@register(
    "q_point_lookup_sorted",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey
    FROM customer WHERE c_nationkey IN (3, 7)
    """,
    category="format",
)
def q_point_lookup_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through a secondary sorted index on unsorted data
    (SortedIndex analogue, dwio/nimble/index/SortedIndex.h:48): the
    table is written unordered in several files; the index scan finds
    which files contain the probe keys and only those are read."""
    path = _ensure_written(
        spark, sf_dir, "customer", "multifile", WriteOptions(max_rows_per_file=400)
    )
    from nimble_spark.sources.table import create_sorted_index, read_manifest

    if "c_nationkey" not in read_manifest(path).get("indexes", {}).get("sorted", []):
        create_sorted_index(spark, path, "c_nationkey")
    df = read_table(spark, path, point_lookup=("c_nationkey", [3, 7]))
    return df.select("c_custkey", "c_name", "c_nationkey")


@register(
    "q_colocated_join",
    oracle=f"""
    SELECT c_custkey, c_name, COUNT(*) AS n_orders, {dsum_sql("o_totalprice")} AS spent
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    category="format",
)
def q_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucket join: customer and orders are both
    hash-bucketed on the customer key with the same bucket count, so
    bucket i joins only bucket i — no network shuffle of either fact
    table (the HashIndex co-located lookup-join pattern; Spark's
    metastore bucketBy optimization re-expressed over directories)."""
    from nimble_spark.sources.table import colocated_join

    pa = _ensure_written(
        spark, sf_dir, "customer", "bucket_custkey", WriteOptions(bucket_by="c_custkey", n_buckets=8)
    )
    pb = _ensure_written(
        spark, sf_dir, "orders", "bucket_custkey", WriteOptions(bucket_by="o_custkey", n_buckets=8)
    )
    j = colocated_join(spark, pa, pb, "c_custkey", "o_custkey")
    return j.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("spent")
    )


@register(
    "q_index_projection",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_orderkey IN (10, 200, 3000)
    """,
    category="format",
)
def q_index_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index projection serving (NimbleIndexProjector analogue,
    dwio/nimble/velox/index/NimbleIndexProjector.h:35-43): batch point
    lookups against the cluster-indexed table, projected columns
    serialized to Arrow IPC for transport and deserialized on the
    consumer side — the lookup-serve-transport loop end to end."""
    from nimble_spark.sources.serde import deserialize, serialize

    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    hits = read_table(
        spark, path, columns=["o_orderkey", "o_custkey", "o_orderstatus"],
        point_lookup=("o_orderkey", [10, 200, 3000]),
    )
    return deserialize(spark, serialize(hits))


@register(
    "q_deterministic_sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE CAST(concat('0x', substr(md5(concat(l_orderkey, '_', l_linenumber)), 1, 8))
               AS BIGINT) % 100 < 10
    """,
    category="format",
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via a portable key hash — the
    sampling-pushdown surface (RandomSkipTracker analogue,
    selective/ReaderBase.h:63) made reproducible across engines and
    runs: the hash predicate pushes to the scan, and the same rows are
    selected on every engine (critical for training-data repeatability,
    unlike TABLESAMPLE's engine-local RNG)."""
    l = load(spark, sf_dir, "lineitem")
    h = F.expr(
        "CAST(conv(substr(md5(concat(l_orderkey, '_', l_linenumber)), 1, 8), 16, 10) AS BIGINT)"
    )
    return l.filter(h % 100 < 10).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "q_table_stats",
    oracle="""
    SELECT 'o_totalprice' AS col,
           FLOOR((MIN(o_totalprice)) * 10000 + 0.5) / 10000 AS min_v,
           FLOOR((MAX(o_totalprice)) * 10000 + 0.5) / 10000 AS max_v,
           COUNT(*) - COUNT(o_totalprice) AS null_count,
           COUNT(*) AS rows
    FROM orders
    """,
    category="format",
)
def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest column statistics surface (SHOW STATS analogue): the
    writer collected min/max/null-count into the manifest from parquet
    footers — metadata only, no data scan at query time."""
    path = _ensure_written(spark, sf_dir, "orders", "plain", WriteOptions())
    from nimble_spark.sources.table import read_manifest

    m = read_manifest(path)
    cs = m["column_stats"]["o_totalprice"]
    return spark.createDataFrame(
        [("o_totalprice", round(float(cs["min"]), R4), round(float(cs["max"]), R4), int(cs["null_count"]), int(m["rows"]))],
        "col STRING, min_v DOUBLE, max_v DOUBLE, null_count BIGINT, rows BIGINT",
    )


@register(
    "q_partition_pruned_scan",
    oracle=f"""
    SELECT event_type, user_id, COUNT(*) AS n,
           {dsum_sql("value")} AS total
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type, user_id
    """,
    category="format",
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-driven layout (VeloxWriterOptions.h:289-295, the
    per-group stripe-cutting policy): events rewritten with a Hive
    directory per event_type; the IN-filter becomes a PartitionFilter
    that skips non-matching directories before listing a single file —
    the coarsest pruning tier, ahead of manifest min/max and parquet
    row-group stats. Verified in tests/test_plan_audit.py."""
    path = _ensure_written(
        spark, sf_dir, "events", "part_event_type", WriteOptions(partition_by=["event_type"])
    )
    df = read_table(spark, path).filter(F.col("event_type").isin("click", "view"))
    return df.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total")
    )


# ---------------------------------------------------------------------------
# Pluggable encoding-selection policy (SURVEY §2.8; EncodingSelectionPolicy.h)
# ---------------------------------------------------------------------------

_POLICY_COLS = [
    "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
]
_DICT_RATIO = 0.5
_BLOOM_RATIO = 0.05


@register(
    "q_encoding_policy_decision",
    oracle=f"""
    WITH tot AS (SELECT COUNT(*) AS n FROM part),
    s AS (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS col_name, COUNT(DISTINCT {c}) AS ndv FROM part"
          for c in _POLICY_COLS
      )}
    )
    SELECT col_name, ndv,
           CASE WHEN ndv * 1.0 / n >= {_DICT_RATIO} THEN 1 ELSE 0 END AS no_dict,
           CASE WHEN ndv * 1.0 / n < {_DICT_RATIO}
                 AND ndv >= 2 AND ndv * 1.0 / n <= {_BLOOM_RATIO}
                THEN 1 ELSE 0 END AS bloom
    FROM s, tot
    """,
    category="format",
)
def q_encoding_policy_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The min-size policy's per-column verdict, computed as ONE
    aggregation + stack (no driver round-trip): dictionary stays on
    only below the NDV-ratio breakeven, blooms go on selective
    point-lookup columns (sources/encoding_policy.py min_size_policy —
    ManualEncodingSelectionPolicyFactory analogue,
    tools/EncodingSelectionPolicies.h). Exact NDV here so the DuckDB
    oracle agrees bit-for-bit; production uses approx_count_distinct."""
    part = load(spark, sf_dir, "part")
    agg = part.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.countDistinct(c).alias(f"ndv_{c}") for c in _POLICY_COLS],
    )
    stack = "stack({}, {}) AS (col_name, ndv)".format(
        len(_POLICY_COLS), ", ".join(f"'{c}', ndv_{c}" for c in _POLICY_COLS)
    )
    ratio = F.col("ndv") / F.col("n")
    no_dict = (ratio >= _DICT_RATIO).cast("int")
    bloom = ((ratio < _DICT_RATIO) & (F.col("ndv") >= 2) & (ratio <= _BLOOM_RATIO)).cast("int")
    return (
        agg.select(F.col("n"), F.expr(stack))
        .select("col_name", "ndv", no_dict.alias("no_dict"), bloom.alias("bloom"))
    )


@register(
    "q_policy_write_roundtrip",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS n, {dsum_sql("p_retailprice")} AS retail
    FROM part GROUP BY p_brand
    """,
    category="format",
)
def q_policy_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a policy-driven write: the part table is
    profiled, the min-size policy picks per-column dictionary/bloom
    knobs, the table is written with those knobs, and the readback is
    aggregated against the original parquet — proving the policy
    changes encodings, never values. Decision is recorded in manifest
    user_metadata (audited in tests/test_table_connector.py)."""
    from nimble_spark.sources.encoding_policy import write_table_with_policy

    path = ensure_cached(
        sf_dir,
        "part__policy",
        ["part"],
        lambda tmp: write_table_with_policy(
            load(spark, sf_dir, "part"), tmp, WriteOptions(), approx=False
        ),
    )
    df = read_table(spark, path)
    return df.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"), dsum("p_retailprice").alias("retail")
    )


@register(
    "q_policy_replay",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS replay_match, 0 AS n_drift
    FROM part
    """,
    category="format",
)
def q_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-layout replay (ReplayedEncodingSelectionPolicy,
    dwio/nimble/encodings/selection/EncodingSelectionPolicy.h:470 +
    writer/EncodingLayoutTree.cpp): the layout the min-size policy
    decided for the first `part` write is captured from its manifest
    and re-applied VERBATIM to a second write of the table.
    replay_match asserts the second manifest records exactly the
    captured per-column knobs; n_drift is the count of columns where
    a fresh profile would now decide differently (0 here — same
    data, so the captured layout is still optimal)."""
    from nimble_spark.sources.encoding_policy import (
        captured_layout,
        write_table_with_policy,
        write_table_with_replay,
    )
    from nimble_spark.sources.table import read_manifest

    first = ensure_cached(
        sf_dir,
        "part__policy",
        ["part"],
        lambda tmp: write_table_with_policy(
            load(spark, sf_dir, "part"), tmp, WriteOptions(), approx=False
        ),
    )
    replayed = ensure_cached(
        sf_dir,
        "part__policy_replay",
        ["part"],
        lambda tmp: write_table_with_replay(
            load(spark, sf_dir, "part"), tmp, captured_from=first, approx=False
        ),
    )
    a = captured_layout(first).as_metadata()
    b = captured_layout(replayed).as_metadata()
    drift = read_manifest(replayed)["user_metadata"].get("encoding_policy.drift", "")
    n_drift = len([c for c in drift.split(",") if c])
    n_rows = read_manifest(replayed)["rows"]
    return spark.createDataFrame(
        [(n_rows, a == b, n_drift)], "n_rows BIGINT, replay_match BOOLEAN, n_drift INT"
    )


@register(
    "q_merge_into",
    oracle=f"""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7
      UNION ALL
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 7
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, 'I' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 = 3
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           {dsum_sql("o_totalprice")} AS total
    FROM merged GROUP BY 1
    """,
    category="format",
)
def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (copy-on-write upsert, sources/merge.py):
    orders is written clustered by key, then a source of updates
    (keys %10=7, repriced, status 'U') and inserts (re-keyed +10M,
    status 'I') merges in. Only files containing a matched key are
    rewritten — affected-file discovery is a distributed semi-join,
    never a key collect — and the post-merge scan must equal the
    relational merge the oracle computes. Complements the streaming
    merge-on-read sink (q_stream_upsert) with the write-side
    discipline a lakehouse MERGE needs at 100 TB."""
    from nimble_spark.sources.merge import merge_into

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(*cols)
        write_table(o, tmp, WriteOptions(cluster_by=["o_orderkey"]))
        upd = o.filter(F.col("o_orderkey") % 10 == 7).select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
        ins = o.filter(F.col("o_orderkey") % 10 == 3).select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            F.lit("I").alias("o_orderstatus"),
            "o_totalprice",
        )
        merge_into(spark, tmp, upd.unionByName(ins), "o_orderkey")

    path = ensure_cached(sf_dir, "orders__merged", ["orders"], _build)
    return (
        read_table(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            dsum("o_totalprice").alias("total"),
        )
    )


@register(
    "q_incremental_read",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {{r}} AS price
    FROM orders WHERE o_orderkey % 4 = 0
    """.format(r="FLOOR((o_totalprice) * 10000 + 0.5) / 10000"),
    category="format",
)
def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (change-feed) read: the commit log records each
    commit's file additions, so `read_changes(since_commit)` scans
    exactly the files later commits added — O(changed data), never a
    table diff. Here orders lands as base (commit 0) + delta append
    (commit 1); reading changes since commit 0 must return precisely
    the delta rows. The CDC primitive for continuous training-data
    refresh: downstream dedup/tokenize/pack stages re-run only on
    what changed."""
    from nimble_spark.sources.table import read_changes

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(*cols)
        write_table(o.filter(F.col("o_orderkey") % 4 != 0), tmp, WriteOptions())
        write_table(o.filter(F.col("o_orderkey") % 4 == 0), tmp, WriteOptions(), mode="append")

    path = ensure_cached(sf_dir, "orders__incremental", ["orders"], _build)
    ch = read_changes(spark, path, since_commit=0)
    return ch.select(
        "o_orderkey", "o_custkey", "o_orderstatus", rnd("o_totalprice", 4).alias("price")
    )


@register(
    "q_update_where",
    oracle=f"""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           {dsum_sql("CASE WHEN o_orderkey % 100 = 42 THEN o_totalprice * 0.5 ELSE o_totalprice END")} AS total
    FROM orders GROUP BY 1
    """,
    category="format",
)
def q_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UPDATE analogue (sources/merge.py update_where): a 50%
    price cut is applied WHERE o_orderkey % 100 = 42 on a stored
    orders table, copy-on-write at file granularity — only files
    holding a matching row are rewritten; the post-update scan must
    equal the relational CASE expression the oracle computes."""
    from nimble_spark.sources.merge import update_where

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(*cols)
        write_table(o, tmp, WriteOptions(cluster_by=["o_orderkey"]))
        update_where(
            spark, tmp, "o_orderkey % 100 = 42",
            {"o_totalprice": "o_totalprice * 0.5"},
        )

    path = ensure_cached(sf_dir, "orders__updated", ["orders"], _build)
    return (
        read_table(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


@register(
    "q_partition_overwrite",
    oracle=f"""
    WITH cur AS (
      SELECT event_type, value FROM events WHERE event_type <> 'click'
      UNION ALL
      SELECT event_type, value * 2 AS value FROM events WHERE event_type = 'click'
    )
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value")} AS total_v
    FROM cur GROUP BY 1
    """,
    category="format",
)
def q_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (sources/merge.py
    overwrite_partitions): events is stored partitioned by
    event_type; the 'click' partition is re-published with doubled
    values (the idempotent-backfill primitive — re-running one day's
    pipeline replaces that day only). Untouched partitions keep their
    bytes and manifest entries; the post-overwrite scan must show
    exactly one changed partition."""
    from nimble_spark.sources.merge import overwrite_partitions

    def _build(tmp: str) -> None:
        e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
        write_table(e, tmp, WriteOptions(partition_by=["event_type"]))
        redo = e.filter(F.col("event_type") == "click").withColumn(
            "value", F.col("value") * 2
        )
        overwrite_partitions(spark, redo, tmp)

    path = ensure_cached(sf_dir, "events__part_overwrite", ["events"], _build)
    return (
        read_table(spark, path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_v"))
    )


@register(
    "q_type_widening",
    oracle=f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           MAX(o_orderkey) AS max_key,
           {lsum_sql("CAST(CAST(o_totalprice AS REAL) AS DOUBLE)")} AS total
    FROM orders GROUP BY 1
    """,
    category="format",
)
def q_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution: orders is STORED with narrow
    physical types (int32 key, float32 price — the reference's
    smaller integer/float streams) and READ under a wider declared
    schema (bigint/double) via `evolved_types` — the UPCAST read
    path. Only lossless widenings are honored; narrowing raises. The
    oracle applies the same store-precision round-trip
    (double→float→double), so values must agree exactly."""
    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderstatus",
            F.col("o_totalprice").cast("float").alias("o_totalprice"),
        )
        write_table(o, tmp, WriteOptions())

    path = ensure_cached(sf_dir, "orders__narrow_types", ["orders"], _build)
    df = read_table(
        spark,
        path,
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        evolved_types={"o_orderkey": "bigint", "o_totalprice": "double"},
    )
    # lsum, not dsum: float32-roundtripped doubles are exactly the
    # shape where the JVM's decimal cast (shortest-string HALF_UP)
    # diverges from DuckDB's binary rounding — see functions/exact.py
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_orderkey").alias("max_key"),
        lsum("o_totalprice").alias("total"),
    )


@register(
    "q_pyds_pruned_scan",
    oracle=f"""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id BETWEEN 100 AND 160
    GROUP BY lang
    """,
    category="format",
)
def q_pyds_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`spark.read.format("nimble")` — the Python DataSource face of
    the connector (sources/datasource.py). The range predicate flows
    through Catalyst into `pushFilters`, which prunes FILES by the
    manifest's per-file min/max before partition planning (one
    InputPartition per kept file; tests assert 8 files → 2 for this
    band), and Spark re-applies the exact row residual. Partitions
    stream Arrow RecordBatches — pyarrow's C++ parquet reader is the
    only thing on the data path."""
    from nimble_spark.sources.datasource import register_nimble_source

    path = ensure_cached(
        sf_dir,
        "documents__pyds_cluster",
        ["documents"],
        lambda tmp: write_table(
            load(spark, sf_dir, "documents"),
            tmp,
            WriteOptions(cluster_by=["doc_id"], max_rows_per_file=150),
        ),
    )
    register_nimble_source(spark)
    # fresh load per query call — the pushdown opt-in's usage contract
    df = spark.read.format("nimble").option("pushdown", "true").load(path)
    return (
        df.filter((F.col("doc_id") >= 100) & (F.col("doc_id") <= 160))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
    )


@register(
    "q_pyds_write_roundtrip",
    oracle=f"""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    category="format",
)
def q_pyds_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.write.format("nimble")` round-trip — the DataSource WRITE
    face (sources/datasource.py NimbleWriter): executors stream Arrow
    batches to per-task parquet files, only committed messages enter
    the manifest (failed-task debris stays invisible and vacuumable),
    and an overwrite + append pair must read back losslessly through
    BOTH read_table and the format reader. Commit log included, so
    plain df.write tables time-travel and CDC-stream like library
    writes."""
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)

    def _build(tmp: str) -> None:
        d = load(spark, sf_dir, "documents")
        d.filter(F.col("doc_id") % 2 == 0).write.format("nimble").mode("overwrite").save(tmp)
        d.filter(F.col("doc_id") % 2 == 1).write.format("nimble").mode("append").save(tmp)

    path = ensure_cached(sf_dir, "documents__pyds_write", ["documents"], _build)
    df = spark.read.format("nimble").load(path)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )


@register(
    "q_decimal_roundtrip",
    oracle=f"""
    WITH t AS (
      SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           {rnd_sql("CAST(SUM(price) AS DOUBLE)")} AS total,
           {rnd_sql("CAST(MIN(price) AS DOUBLE)")} AS min_p,
           {rnd_sql("CAST(MAX(price) AS DOUBLE)")} AS max_p
    FROM t GROUP BY 1
    """,
    category="format",
)
def q_decimal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-typed storage roundtrip: prices are stored as
    DECIMAL(12,2) (parquet fixed-point, the money type), survive the
    connector, and aggregate with exact decimal arithmetic — the
    half-up quantization at write happens identically on both
    engines, and decimal sums are associative so the totals are exact
    regardless of partitioning."""
    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderstatus", F.col("o_totalprice").cast("decimal(12,2)").alias("price")
        )
        write_table(o, tmp, WriteOptions())

    path = ensure_cached(sf_dir, "orders__decimal", ["orders"], _build)
    df = read_table(spark, path)
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum("price").cast("double"), 4).alias("total"),
        rnd(F.min("price").cast("double"), 4).alias("min_p"),
        rnd(F.max("price").cast("double"), 4).alias("max_p"),
    )


@register(
    "q_tpch_refresh",
    oracle=f"""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey + 20000000, 'N' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 = 1
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           {dsum_sql("o_totalprice")} AS total
    FROM merged WHERE o_orderkey % 13 <> 2
    GROUP BY 1
    """,
    category="format",
)
def q_tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh streams (the spec's RF1/RF2) on a stored table:
    RF1 inserts a re-keyed order batch through batch MERGE, RF2
    logically deletes a predicate slice through the distributed
    delete mask (no rewrite, no driver keys). The post-refresh scan —
    merge files + delete anti-join — must equal the relational
    insert-then-delete the oracle computes. The full lakehouse
    mutation lifecycle (insert, update, delete, scan) in one
    oracle-gated query."""
    from nimble_spark.sources.deletes import delete_where, read_with_deletes
    from nimble_spark.sources.merge import merge_into

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(*cols)
        write_table(o, tmp, WriteOptions(cluster_by=["o_orderkey"]))
        ins = o.filter(F.col("o_orderkey") % 7 == 1).select(
            (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            "o_totalprice",
        )
        merge_into(spark, tmp, ins, "o_orderkey")
        delete_where(spark, tmp, "o_orderkey", "o_orderkey % 13 = 2")

    path = ensure_cached(sf_dir, "orders__refresh", ["orders"], _build)
    df = read_with_deletes(spark, path)
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


@register(
    "q_sql_surface",
    oracle=f"""
    WITH base AS (
      SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
    ),
    agg AS (
      SELECT status, COUNT(*) AS n, {dsum_sql("price")} AS total
      FROM base GROUP BY status
    )
    SELECT status, n, total FROM agg WHERE n > 0
    """,
    category="format",
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL usage of the engine: a nimble table registered as a
    temp view through the DataSource and queried with spark.sql
    (CTE + aggregate + HAVING-style filter) — the interface a SQL-only
    user of the reference would switch to. Everything below the view
    is the same pruned connector scan; Catalyst sees an ordinary
    relation."""
    from nimble_spark.sources.datasource import register_nimble_source

    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    register_nimble_source(spark)
    spark.read.format("nimble").load(path).createOrReplaceTempView("nimble_orders")
    return spark.sql(
        """
        WITH base AS (
          SELECT o_orderstatus AS status, o_totalprice AS price FROM nimble_orders
        ),
        agg AS (
          SELECT status, COUNT(*) AS n,
                 FLOOR(CAST(SUM(CAST(price AS DECIMAL(27,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total
          FROM base GROUP BY status
        )
        SELECT status, n, total FROM agg WHERE n > 0
        """
    )


@register(
    "q_token_search",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE list_contains(string_split_regex(trim(text), '\\s+'), 'the')
    """,
    category="format",
)
def q_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text point lookup through the inverted sidecar index
    (sources/inverted.py): token→doc postings are stored clustered by
    token, so the probe prunes posting files by manifest range, then
    semi-joins the doc table — document text is never scanned for the
    search. Must return exactly the rows a full LIKE-scan (the
    oracle) finds."""
    from nimble_spark.sources.inverted import build_inverted_index, lookup_token

    def _build(tmp: str) -> None:
        write_table(load(spark, sf_dir, "documents"), tmp, WriteOptions(cluster_by=["doc_id"]))
        build_inverted_index(spark, tmp)

    path = ensure_cached(sf_dir, "documents__inverted_tf", ["documents"], _build)
    return lookup_token(spark, path, "the").select("doc_id", "lang", "n_chars")


@register(
    "q_tfidf_search",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents),
    n AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT doc_id, 'the' AS token, len(list_filter(tk, x -> x = 'the')) AS tf FROM toks
      UNION ALL
      SELECT doc_id, 'of' AS token, len(list_filter(tk, x -> x = 'of')) AS tf FROM toks
    ),
    tf2 AS (SELECT * FROM tf WHERE tf > 0),
    dfq AS (SELECT token, COUNT(*) AS df FROM tf2 GROUP BY token),
    part AS (
      SELECT t.doc_id,
             CAST(FLOOR(CAST(t.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS pq
      FROM tf2 t JOIN dfq d USING (token) CROSS JOIN n
    )
    SELECT doc_id, CAST(SUM(pq) AS DOUBLE) / 10000 AS score
    FROM part GROUP BY doc_id
    """,
    category="format",
)
def q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked multi-token search through the inverted sidecar:
    score(d) = Σ tf·(N/df) over ['the','of'], computed ENTIRELY from
    pruned posting scans (tf stored in the postings, df aggregated
    from them, N broadcast) — document text is never read to rank.
    The oracle recomputes tf/df/N relationally from raw text, so a
    hash match proves the stored postings carry exact term counts."""
    from nimble_spark.sources.inverted import build_inverted_index, search_ranked

    def _build(tmp: str) -> None:
        write_table(load(spark, sf_dir, "documents"), tmp, WriteOptions(cluster_by=["doc_id"]))
        build_inverted_index(spark, tmp)

    path = ensure_cached(sf_dir, "documents__inverted_tf", ["documents"], _build)
    return search_ranked(spark, path, ["the", "of"])


@register(
    "q_layout_advice",
    oracle="""
    SELECT * FROM (VALUES
      ('cluster_by', 'o_orderkey', 4),
      ('bucket_by', 'o_custkey', 2),
      ('partition_by', 'o_orderstatus', 1)
    ) AS t(option, column_name, evidence)
    """,
    category="tools",
)
def q_layout_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor (plans/advisor.py — the §4.1 write-time layout
    planner): given a fixed workload (two range scans on o_orderkey,
    a status equality, a customer join + point lookup), the advisor
    must recommend exactly cluster(o_orderkey), bucket(o_custkey),
    partition(o_orderstatus) with the observed evidence counts — the
    recommendation logic is deterministic, so it oracle-checks like
    any operator."""
    from nimble_spark.plans.advisor import advise_layout

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    workload = [
        o.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") <= 200)),
        o.filter(F.col("o_orderkey").between(5, 50)),
        o.filter(F.col("o_orderstatus") == "F"),
        o.join(c, o.o_custkey == c.c_custkey),
        o.filter(F.col("o_custkey") == 77),
    ]
    recs = advise_layout(spark, o, workload)
    return spark.createDataFrame(
        [(r.option, r.column, r.evidence) for r in recs],
        "option STRING, column_name STRING, evidence INT",
    )


@register(
    "q_advice_applied",
    oracle=f"""
    SELECT COUNT(*) AS n, {dsum_sql("o_totalprice")} AS total,
           TRUE AS pruned_subset
    FROM orders WHERE o_orderkey BETWEEN 4000 AND 4500
    """,
    category="tools",
)
def q_advice_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The advisory loop closed to ACTION: the advisor's top
    recommendation (cluster by o_orderkey, from q_layout_advice's
    workload) is applied as the table's write layout, and the very
    predicate shape that produced the evidence — a key-range scan —
    must now (a) answer exactly (the oracle) and (b) provably read a
    strict subset of files (the pruning dry-run counts). Workload in,
    layout out, faster scan verified."""
    from nimble_spark.sources.bloom import explain_pruning

    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    dry = explain_pruning(spark, path, "o_orderkey", lo=4000, hi=4500)
    kept = sum(1 for d in dry if d["kept"])
    df = read_table(spark, path, range_scan=("o_orderkey", 4000, 4500))
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total"),
        # strict subset of files read — an empty range pruning ALL
        # files (kept=0, e.g. below the smallest sf's key domain)
        # counts as pruning too
        F.lit(kept < len(dry)).alias("pruned_subset"),
    )


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH changed AS (
      SELECT o_totalprice FROM orders WHERE o_orderkey % 100 = 42
    )
    SELECT (SELECT COUNT(*) FROM changed) AS n_added,
           (SELECT COUNT(*) FROM changed) AS n_removed,
           (SELECT {dsum_sql("o_totalprice")} FROM changed) AS removed_total,
           (SELECT {dsum_sql("o_totalprice * 0.5")} FROM changed) AS added_total
    """,
    category="format",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two snapshots ACROSS A REWRITE — the
    query retention makes possible: an UPDATE halves prices WHERE
    o_orderkey % 100 = 42, tombstoning the replaced files into the
    metadata trash instead of deleting them, so
    ``read_table(as_of_commit=0)`` still reconstructs the pre-update
    table. The diff (exceptAll both ways) must be exactly the changed
    rows: originals on the removed side, halved versions on the added
    side (0.5× is a power-of-two scale, so totals stay float-exact).
    Vacuum reclaims the trash and ends this query's history — the
    explicit history-for-space trade, tested in pytest."""
    from nimble_spark.sources.merge import update_where

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(*cols)
        write_table(o, tmp, WriteOptions(cluster_by=["o_orderkey"]))
        update_where(
            spark, tmp, "o_orderkey % 100 = 42",
            {"o_totalprice": "o_totalprice * 0.5"},
        )

    path = ensure_cached(sf_dir, "orders__updated_retained", ["orders"], _build)
    snap0 = read_table(spark, path, as_of_commit=0).select(*cols)
    head = read_table(spark, path).select(*cols)
    added = head.exceptAll(snap0)
    removed = snap0.exceptAll(head)
    a = added.agg(
        F.count(F.lit(1)).alias("n_added"), dsum("o_totalprice").alias("added_total")
    )
    r = removed.agg(
        F.count(F.lit(1)).alias("n_removed"),
        dsum("o_totalprice").alias("removed_total"),
    )
    return a.crossJoin(r).select("n_added", "n_removed", "removed_total", "added_total")


@register(
    "q_fast_minmax",
    oracle="""
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           FLOOR((MIN(o_totalprice)) * 10000 + 0.5) / 10000 AS min_price,
           FLOOR((MAX(o_totalprice)) * 10000 + 0.5) / 10000 AS max_price
    FROM orders
    """,
    category="format",
)
def q_fast_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-answered MIN/MAX (the tablet footer min/max stats as
    a query short-circuit): global extremes come straight from the
    manifest's per-file bounds — zero data IO at any table size, the
    companion of q_fast_count. Guarded against pending delete masks
    (which would make stats over-report); both columns must equal the
    full-scan aggregates the oracle computes."""
    from nimble_spark.sources.compaction import fast_minmax

    path = _ensure_written(
        spark, sf_dir, "orders", "cluster_orderkey", WriteOptions(cluster_by=["o_orderkey"])
    )
    kmin, kmax = fast_minmax(spark, path, "o_orderkey")
    pmin, pmax = fast_minmax(spark, path, "o_totalprice")
    return spark.createDataFrame(
        [(int(kmin), int(kmax), pmin, pmax)],
        "min_key BIGINT, max_key BIGINT, min_price DOUBLE, max_price DOUBLE",
    ).select(
        "min_key",
        "max_key",
        F.expr("FLOOR(min_price * 10000 + 0.5) / 10000").alias("min_price"),
        F.expr("FLOOR(max_price * 10000 + 0.5) / 10000").alias("max_price"),
    )


@register(
    "q_binary_roundtrip",
    oracle="""
    SELECT doc_id,
           md5(text) AS payload_md5,
           CAST(octet_length(CAST(encode(text) AS BLOB)) AS BIGINT) AS n_bytes
    FROM documents
    """,
    category="format",
)
def q_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY column storage roundtrip: documents' text is stored as a
    binary payload column through the connector (the multimodal
    tables' type — image/audio/video bytes ride exactly this path)
    and read back byte-identical, proven by md5 over the binary value
    on both engines. Write-side column stats skip the unorderable
    binary type rather than failing (same discipline as DECIMAL)."""
    def _build(tmp: str) -> None:
        d = load(spark, sf_dir, "documents").select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        write_table(d, tmp, WriteOptions())

    path = ensure_cached(sf_dir, "documents__binary", ["documents"], _build)
    back = read_table(spark, path)
    return back.select(
        "doc_id",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


@register(
    "q_map_type_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CAST(len(json_keys(props)) AS BIGINT) AS n_keys
    FROM events
    """,
    category="format",
)
def q_map_type_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE map<string,bigint> column through the connector — the
    logical MAP type stored as-is (parquet key_value repeated groups),
    complementing the FLAT storage of q_flatmap_roundtrip: flat maps
    trade write-time key discovery for per-key column pruning; native
    maps keep arbitrary key sets without schema growth. Values and
    key cardinality must survive the roundtrip exactly."""
    def _build(tmp: str) -> None:
        ev = load(spark, sf_dir, "events").select(
            "event_id", F.from_json("props", "map<string,bigint>").alias("pm")
        )
        write_table(ev, tmp, WriteOptions())

    path = ensure_cached(sf_dir, "events__native_map", ["events"], _build)
    back = read_table(spark, path)
    return back.select(
        "event_id",
        F.element_at("pm", "k").alias("k_val"),
        F.size(F.map_keys("pm")).cast("long").alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# Wide feature table: hundreds of physical columns, projected reads
# ---------------------------------------------------------------------------

# The reference's headline workload is ML feature tables with
# thousands to tens of thousands of columns (reference README.md:21-24)
# where any one training job projects a small subset. This query
# materializes the embeddings table FLATTENED into per-dimension
# physical feature columns (f00..f63 — the classic feature-store
# layout nimble's FlatMap serves), then answers an aggregate that
# touches 3 of the 66 columns through a projected read. The plan-audit
# suite pins that the parquet scan's ReadSchema carries ONLY the
# projected columns — the whole point of a columnar format at this
# width: IO scales with the projection, not the schema.
_WIDE_D = 64


@register(
    "q_wide_feature_projection",
    oracle=f"""
    SELECT label, COUNT(*) AS n,
           {lsum_sql("CAST(embedding[8] AS DOUBLE)")} AS sum_f07,
           {lsum_sql("CAST(embedding[32] AS DOUBLE)")} AS sum_f31,
           {lsum_sql("CAST(embedding[56] AS DOUBLE)")} AS sum_f55
    FROM embeddings GROUP BY label
    """,
    category="format",
)
def q_wide_feature_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-feature-table projection: 64 per-dimension feature columns
    (the flattened feature-store layout the reference targets,
    README.md:21-24, FlatMap per-key streams LayoutPlanner.cpp:84-92)
    written once, then an aggregate over 3 of them via a projected
    read. read_table(columns=...) reaches the parquet scan, so bytes
    read scale with the 3-column projection, not the 66-column schema
    — the property that makes 10k-column feature tables queryable.
    Sums use the scaled-int64 exact path (portable for arbitrary
    float32 inputs)."""

    def _build(tmp: str) -> None:
        e = load(spark, sf_dir, "embeddings")
        cols = [
            F.expr(f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)").alias(f"f{i:02d}")
            for i in range(_WIDE_D)
        ]
        write_table(e.select("vec_id", "label", *cols), tmp, WriteOptions())

    path = ensure_cached(sf_dir, "embeddings__wide_features", ["embeddings"], _build)
    df = read_table(spark, path, columns=["label", "f07", "f31", "f55"])
    return df.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        lsum("f07").alias("sum_f07"),
        lsum("f31").alias("sum_f31"),
        lsum("f55").alias("sum_f55"),
    )


# ---------------------------------------------------------------------------
# r7: the reference-scale wide-schema drill — 5,000 physical columns
# ---------------------------------------------------------------------------

# The reference exists for THOUSANDS-to-tens-of-thousands of feature
# columns (README.md:21-24); q_wide_feature_projection proves the
# projected-IO property at 64. This drill proves the same property at
# 5k physical columns. The table is deterministic arithmetic over a
# fixed row range (independent of sf), so the DuckDB oracle is exact
# closed-form SQL — no data build on the oracle side at all.
_W5K_COLS = 5000
_W5K_ROWS = 1000
_W5K_PROJ = (123, 2500, 4987)  # the three projected feature indices


def _w5k_val(i: int) -> str:
    # column f{i} = (id * 31 + i) % 1000 — exact BIGINT in both engines
    return f"(id * 31 + {i}) % 1000"


@register(
    "q_wide_5k_projection",
    oracle=f"""
    SELECT COUNT(*) AS n,
           {", ".join(f"CAST(SUM({_w5k_val(i)}) AS BIGINT) AS s_f{i:04d}" for i in _W5K_PROJ)}
    FROM (SELECT range AS id FROM range({_W5K_ROWS}))
    """,
    category="format",
)
def q_wide_5k_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5,000-column write + 3-column projected read — the reference's
    raison d'être at its actual width (README.md:21-24: nimble targets
    feature tables with thousands to tens of thousands of streams;
    LayoutPlanner.cpp:84-92 plans per-stream layout for exactly this).

    What the drill pins beyond q_wide_feature_projection's 64 columns:
    - the writer survives 5k physical columns under bounded memory
      (max_rows_per_file bounds the open-file state per task);
    - a 3-of-5000 projected read's parquet ReadSchema carries ONLY the
      projected fields (plan-gated in tests/test_wide_schema_drill.py)
      — IO scales with the projection, not the schema;
    - above spark.sql.codegen.maxFields the 5k-expression projection
      legitimately leaves whole-stage codegen; the READ side (3 cols)
      stays fully codegen'd, which is the side queries pay forever.

    The cell values are exact integer arithmetic on the row id, so the
    oracle is closed-form SQL over range() — the build cost exists only
    on the Spark side (once, cached)."""

    def _build(tmp: str) -> None:
        # One selectExpr call (5,000 F.expr columns cost ~15 s of py4j
        # round-trips; one parsed string list costs ~1 s) and ONE input
        # slice: the default-parallelism range wrote 1,000 rows as 32
        # ~31-row files, i.e. 32 × 5,000-column footers to write,
        # describe and stat-fold — the r11 profile measured the build
        # at 45-91 s; single-file it lands in single-digit seconds.
        write_table(
            spark.range(0, _W5K_ROWS, 1, 1).selectExpr(
                "id", *[f"{_w5k_val(i)} AS f{i:04d}" for i in range(_W5K_COLS)]
            ),
            tmp,
            WriteOptions(),
        )

    path = ensure_cached(sf_dir, "wide5k", [], _build)
    proj = [f"f{i:04d}" for i in _W5K_PROJ]
    df = read_table(spark, path, columns=proj)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(c).alias(f"s_{c}") for c in proj],
    )


# sharded flat-map drill constants (deterministic arithmetic — the
# oracle is closed-form SQL over range(), zero oracle-side build)
_FMS_KEYS = 2000
_FMS_ROWS = 300
_FMS_PICK = (7, 1000, 1999)  # spans both 1000-key groups


@register(
    "q_flatmap_sharded_projection",
    oracle=f"""
    SELECT COUNT(*) AS n,
           {", ".join(f"CAST(SUM(id * 100 + {i}) AS BIGINT) AS s_k{i:04d}" for i in _FMS_PICK)}
    FROM (SELECT range AS id FROM range({_FMS_ROWS}))
    """,
    category="format",
)
def q_flatmap_sharded_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertically-sharded flat-map (r8, sources/flatmap.py): a
    2000-key map stored as two 1000-key file groups; a 3-key projected
    read opens only the owning groups and only the requested streams
    (plan-gated in tests/test_wide_schema_drill.py at 10k keys). Cell
    values are exact integer arithmetic on the row id, so the oracle
    is closed-form SQL over range() — the engine-side build happens
    once (cached). The reference's analogue is flat-map stream
    grouping inside the tablet at up to 200k keys
    (velox/NimbleConfig.h:27)."""
    from nimble_spark.sources.flatmap import read_flatmap_table, write_flatmap_table

    def _build(tmp: str) -> None:
        src = spark.range(0, _FMS_ROWS).coalesce(4).selectExpr(
            "id",
            f"map_from_arrays("
            f"transform(sequence(0,{_FMS_KEYS - 1}), i -> concat('k', lpad(CAST(i AS STRING),4,'0'))), "
            f"transform(sequence(0,{_FMS_KEYS - 1}), i -> id*100 + CAST(i AS BIGINT))) AS feat",
        )
        write_flatmap_table(src, "feat", tmp, row_key="id", keys_per_group=1000)

    path = ensure_cached(sf_dir, "flatmap_sharded_2k", [], _build)
    picked = [f"k{i:04d}" for i in _FMS_PICK]
    df = read_flatmap_table(spark, path, "feat", keys=picked)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col("feat").getItem(f"k{i:04d}")).alias(f"s_k{i:04d}")
            for i in _FMS_PICK
        ],
    )


@register(
    "q_fast_ndv",
    oracle="""
    SELECT col, ndv FROM (
      SELECT 'lang' AS col, COUNT(DISTINCT lang) AS ndv FROM documents
      UNION ALL
      SELECT 'source' AS col, COUNT(DISTINCT source) AS ndv FROM documents
    ) ORDER BY col
    """,
    category="format",
)
def q_fast_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-answered COUNT(DISTINCT) from per-file KMV synopses
    (WriteOptions(ndv_columns=...) → compaction.fast_ndv): zero data
    IO at query time, and below NDV_K distincts the fold is EXACT —
    which is what makes it oracle-checkable against a real
    COUNT(DISTINCT). The synopsis union is associative (mergeable-
    sketch property), so the same arithmetic serves 10⁶ files; above
    NDV_K it degrades to the standard KMV estimator (documented
    regime, pytest-checked for accuracy, not oracle-gated)."""
    from nimble_spark.sources.compaction import fast_ndv

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "documents"),
            tmp,
            WriteOptions(cluster_by=["doc_id"], n_cluster_files=4,
                         ndv_columns=["lang", "source"]),
        )

    path = ensure_cached(sf_dir, "documents__ndv", ["documents"], _build)
    rows = []
    for col in ("lang", "source"):
        r = fast_ndv(path, col)
        assert r["exact"], f"test corpus exceeded NDV_K for {col}"
        rows.append((col, r["ndv"]))
    return spark.createDataFrame(rows, "col STRING, ndv BIGINT").orderBy("col")


@register(
    "q_fast_sum",
    oracle=f"""
    SELECT COUNT(*) AS n,
           {lsum_sql("o_totalprice")} AS total,
           CAST(SUM(o_custkey) AS BIGINT) AS key_sum
    FROM orders
    """,
    category="format",
)
def q_fast_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-answered SUM (per-file sum synopses →
    compaction.fast_sum): zero data IO at query time and EXACT —
    integer columns sum as unbounded ints, doubles per-value quantize
    to FLOOR(x·10⁶+0.5) and fold as ints (the exact.py lsum
    discipline the whole differential harness rides), so the fold is
    associative integer addition at any shard count. Completes the
    metadata-answered aggregate family: fast_count, fast_minmax,
    fast_ndv, fast_sum."""
    import math

    from nimble_spark.sources.compaction import fast_sum

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "orders"),
            tmp,
            WriteOptions(
                cluster_by=["o_orderkey"],
                n_cluster_files=4,
                sum_columns=["o_totalprice", "o_custkey"],
            ),
        )

    path = ensure_cached(sf_dir, "orders__sums", ["orders"], _build)
    n = fast_sum(path, "o_totalprice")["rows"]
    # mirror lsum_sql's exact arithmetic: CAST(int-sum AS DOUBLE)/1e6,
    # then round-half-up at 4 decimals — identical IEEE ops both sides
    total = math.floor((fast_sum(path, "o_totalprice")["sum"]) * 1e4 + 0.5) / 1e4
    key_sum = fast_sum(path, "o_custkey")["sum"]
    return spark.createDataFrame(
        [(n, float(total), int(key_sum))], "n BIGINT, total DOUBLE, key_sum BIGINT"
    )


@register(
    "q_fast_grouped_sum",
    oracle="""
    SELECT o_orderpriority AS pri, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderpriority ORDER BY pri
    """,
    category="format",
)
def q_fast_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-answered GROUP BY: on a Hive-partitioned table, each
    file's exact sum synopsis keyed by its partition-path value folds
    into the full per-group rollup with ZERO data IO
    (compaction.fast_grouped_sum; per-group counts come from the same
    entries' row counts). The statistics-answered form of a
    materialized rollup — and it stays exact through appends, merges
    and compaction because the per-file synopses do."""
    from nimble_spark.sources.compaction import fast_grouped_sum
    from nimble_spark.sources.table import read_manifest

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "orders"),
            tmp,
            WriteOptions(
                partition_by=["o_orderpriority"],
                sum_columns=["o_custkey"],
            ),
        )

    path = ensure_cached(sf_dir, "orders__grouped_sums", ["orders"], _build)
    sums = dict(fast_grouped_sum(path, "o_custkey"))
    # per-group row counts: the same manifest arithmetic, zero IO —
    # keyed on the declared partition key via the canonical Hive
    # parser (not a first-`key=` path split; ADVICE r8)
    from nimble_spark.sources.datasource import _path_partition_values

    m = read_manifest(path)
    pkey = m["indexes"]["partition"]["keys"][0]
    counts: dict = {}
    for f in m["files"]:
        pv = _path_partition_values(f["path"]).get(pkey)
        counts[pv] = counts.get(pv, 0) + f["rows"]
    rows = [(pv, counts[pv], int(sums[pv])) for pv in sorted(sums)]
    return spark.createDataFrame(rows, "pri STRING, n BIGINT, key_sum BIGINT")


@register(
    "q_dsl_grouped_sums",
    oracle="""
    SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(o_custkey) AS BIGINT) AS VARCHAR) AS sum_s
    FROM orders GROUP BY o_orderpriority ORDER BY grp
    """,
    category="tools",
)
def q_dsl_grouped_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SHOW GROUPED SUMS col` through the DSL string interface
    (NimbleDslVm.cpp analogue): the metadata-answered per-partition
    rollup must equal SQL GROUP BY + SUM over the source — r8's
    NimbleDSL↔synopsis loop closure (the r7 verdict's item 7). Sums
    surface as exact decimal strings (SHOW SUMS discipline, lossless
    above 2⁵³)."""
    from nimble_spark.tools import run_command

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "orders"),
            tmp,
            WriteOptions(
                partition_by=["o_orderpriority"],
                sum_columns=["o_custkey"],
            ),
        )

    path = ensure_cached(sf_dir, "orders__grouped_sums", ["orders"], _build)
    df = run_command(spark, path, "SHOW GROUPED SUMS o_custkey")
    return df.select(
        F.col("group").alias("grp"),
        F.col("rows").alias("n_rows"),
        F.col("sum").alias("sum_s"),
    ).orderBy("grp")


@register(
    "q_fast_value_counts",
    oracle="""
    SELECT lang AS val, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents WHERE lang IS NOT NULL
    GROUP BY lang ORDER BY val
    """,
    category="format",
)
def q_fast_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-answered GROUP-BY-value COUNT from per-file value
    histograms (WriteOptions(histogram_columns=...) →
    compaction.fast_value_counts): the whole value distribution of a
    low-cardinality column with ZERO data IO — exact counts, fold =
    associative integer addition per value (the shard-merge property;
    a 100 TB corpus's language distribution from metadata alone).
    Completes the metadata-answered family: count, minmax, ndv, sum,
    grouped sum, value counts/mode/median. Reference analogue:
    per-stripe ChunkStats persisted in the tablet footer."""
    from nimble_spark.sources.compaction import fast_value_counts

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "documents"),
            tmp,
            WriteOptions(cluster_by=["doc_id"], n_cluster_files=4,
                         histogram_columns=["lang"]),
        )

    path = ensure_cached(sf_dir, "documents__hist", ["documents"], _build)
    rows = [(v, n) for v, n in fast_value_counts(path, "lang")]
    return spark.createDataFrame(rows, "val STRING, n BIGINT").orderBy("val")


@register(
    "q_fast_mode_median",
    oracle="""
    SELECT
      (SELECT l_linenumber FROM lineitem GROUP BY l_linenumber
       ORDER BY COUNT(*) DESC, l_linenumber LIMIT 1) AS mode_val,
      CAST((SELECT MEDIAN(l_linenumber) FROM lineitem) AS DOUBLE) AS med
    """,
    category="format",
)
def q_fast_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE and MEDIAN from the folded value histogram — zero
    data IO (compaction.fast_mode / fast_median over the per-file
    synopses). Mode ties break to the smallest value on both sides;
    median follows SQL semantics (mean of the two middles for even
    counts), checked against DuckDB's MEDIAN."""
    from nimble_spark.sources.compaction import fast_median, fast_mode

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_linenumber", "l_quantity"
            ),
            tmp,
            WriteOptions(cluster_by=["l_orderkey"], n_cluster_files=4,
                         histogram_columns=["l_linenumber"]),
        )

    path = ensure_cached(sf_dir, "lineitem__hist", ["lineitem"], _build)
    mode_v, _cnt = fast_mode(path, "l_linenumber")
    med = fast_median(path, "l_linenumber")
    return spark.createDataFrame(
        [(int(mode_v), float(med))], "mode_val INT, med DOUBLE"
    )


@register(
    "q_fast_partition_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS key_sum,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
           (SELECT o_orderstatus FROM orders
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus
            ORDER BY COUNT(*) DESC, o_orderstatus LIMIT 1) AS top_status
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    category="format",
)
def q_fast_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-SCOPED metadata answers (compaction.
    fast_partition_stats): rows, exact SUM, exact NDV, and the value
    distribution of ONE Hive partition, folded from just that
    partition's file synopses — zero data IO. The per-slice dashboard
    (per-language corpus stats, per-status rollups) at any table
    size; partition pruning applied to the METADATA fold itself, the
    same way the reference prunes stripes before consulting their
    ChunkStats."""
    from nimble_spark.sources.compaction import fast_partition_stats

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "orders"),
            tmp,
            WriteOptions(
                partition_by=["o_orderpriority"],
                sum_columns=["o_custkey"],
                ndv_columns=["o_orderstatus"],
                histogram_columns=["o_orderstatus"],
            ),
        )

    path = ensure_cached(sf_dir, "orders__pstats", ["orders"], _build)
    st = fast_partition_stats(path, ("o_orderpriority", "1-URGENT"))
    vc = st["value_counts"]["o_orderstatus"]
    top_status, _n = min(vc.items(), key=lambda kv: (-kv[1], kv[0]))
    return spark.createDataFrame(
        [(
            st["rows"],
            int(st["sums"]["o_custkey"]),
            int(st["ndv"]["o_orderstatus"]),
            top_status,
        )],
        "n_rows BIGINT, key_sum BIGINT, n_status BIGINT, top_status STRING",
    )


@register(
    "q_dsl_fast_count",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           'statistics (manifest row counts; zero data IO)' AS answered_by
    FROM orders
    """,
    category="tools",
)
def q_dsl_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSL `SELECT COUNT(*)` routes through the statistics path
    (compaction.fast_count — the reference's footer-stats
    short-circuit) and SAYS so: the answered_by column is the explain
    line proving the number came from manifest arithmetic, not a scan.
    The count must still equal SQL COUNT(*) over the source."""
    from nimble_spark.tools import run_command

    path = _ensure_written(spark, sf_dir, "orders", "plain", WriteOptions())
    return run_command(spark, path, "SELECT COUNT(*)").select(
        F.col("count").alias("cnt"), "answered_by"
    )


@register(
    "q_fast_topk",
    oracle="""
    SELECT source AS val, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents WHERE source IS NOT NULL
    GROUP BY source ORDER BY n DESC, val LIMIT 3
    """,
    category="format",
)
def q_fast_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters from metadata alone: the k most-frequent
    values of a histogram-declared column folded from the per-file
    value-count synopses (compaction.fast_topk; DSL `SHOW TOP k col`).
    q_countmin_heavy_hitters is the sketch ESTIMATE over data at
    unbounded cardinality; this is the exact zero-data-IO answer for
    declared low-cardinality columns — ties break to the smaller
    value (ORDER BY count DESC, value) on both engines."""
    from nimble_spark.tools import run_command

    def _build(tmp: str) -> None:
        write_table(
            load(spark, sf_dir, "documents"),
            tmp,
            WriteOptions(cluster_by=["doc_id"], n_cluster_files=4,
                         histogram_columns=["source"]),
        )

    path = ensure_cached(sf_dir, "documents__hist_src", ["documents"], _build)
    df = run_command(spark, path, "SHOW TOP 3 source")
    return df.select(F.col("value").alias("val"), F.col("count").alias("n"))


@register(
    "q_alter_widen",
    oracle=f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           MAX(o_orderkey) AS max_key,
           {lsum_sql("CAST(CAST(o_totalprice AS REAL) AS DOUBLE)")} AS total
    FROM orders GROUP BY 1
    """,
    category="lifecycle",
)
def q_alter_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED type widening (alter_table widen, r8): half of
    orders is stored NARROW (int32 key, float32 price), the declared
    schema is then widened to bigint/double metadata-only (no byte
    rewritten), and the other half appends ALREADY WIDE — every read
    upcasts the narrow files to the declared types per file
    (table._plan_parquet's declared-schema scan; the reference's UPCAST reads,
    velox/selective/ColumnReader.cpp int stream → BIGINT vector,
    made durable in the manifest rather than per-read
    ``evolved_types``). The oracle recomputes over the whole raw
    table with the same store-precision round-trip (double→float→
    double on the price), so a hash match proves both halves carry
    exact values under the one widened schema."""
    from nimble_spark.sources.alter import alter_table
    from nimble_spark.sources.cache import ensure_cached

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        narrow = o.filter(F.col("o_orderkey") % 2 == 0).select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderstatus",
            F.col("o_totalprice").cast("float").alias("o_totalprice"),
        )
        write_table(narrow, tmp, WriteOptions())
        alter_table(tmp, widen={"o_orderkey": "bigint", "o_totalprice": "double"})
        wide = o.filter(F.col("o_orderkey") % 2 == 1).select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_orderstatus",
            # same float32 store-precision as the narrow half, so the
            # oracle's single round-trip expression covers both
            F.col("o_totalprice").cast("float").cast("double").alias("o_totalprice"),
        )
        write_table(wide, tmp, WriteOptions(), mode="append")

    path = ensure_cached(sf_dir, "orders__alter_widen", ["orders"], _build)
    df = read_table(spark, path)
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_orderkey").alias("max_key"),
        lsum("o_totalprice").alias("total"),
    )
