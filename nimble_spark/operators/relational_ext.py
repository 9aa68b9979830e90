"""Additional relational conformance queries (SURVEY.md §2.6) and the
encoding-statistics aggregations the reference computes per block
(§2.5, dwio/nimble/encodings/selection/Statistics.h:31,124-302):
TPC-H-flavored joins/subqueries over the driver tables, run-length
stats, and exact-NDV column stats.

Scale notes are per query; the run-length window is the one operator
here that is global-sort shaped — the reference computes it per
encoding block, and the Spark analogue at 100 TB is per-file/partition
(noted in the docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nimble_spark.functions.exact import dsum, dsum_sql, rnd, rnd_sql
from nimble_spark.registry import register
from nimble_spark.tables import load

_Q18_THRESHOLD = 400


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql("l_extendedprice * l_discount")} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    category="aggregation",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table filter + aggregate. All four
    predicates push down to the parquet scan (row-group pruning on
    shipdate when clustered); no shuffle beyond the 1-row agg."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_discount > 0.05
      )
    GROUP BY o_orderpriority
    """,
    category="join",
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery → left-semi join.
    The semi join shuffles only orderkeys; the probe side is filtered
    before the join so the build never sees non-qualifying lines."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q14_promo_share",
    oracle=f"""
    SELECT {rnd_sql(
        "100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' "
        "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)) "
        "ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE) / "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)"
    )} AS promo_pct,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
    category="join",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact-dim join + conditional aggregate ratio.
    part is the broadcast side; both sums ride one shuffle-free partial
    agg (decimal-exact before the final division)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    dec = "decimal(27,6)"
    ext = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    promo = F.when(F.col("p_type") == "PROMO", ext).otherwise(F.lit(0).cast(dec))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            rnd(
                100.0 * F.sum(promo).cast("double") / F.sum(ext).cast("double"), 4
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           {dsum_sql("l_quantity")} AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > {_Q18_THRESHOLD}
    )
    GROUP BY c_name, o_orderkey, o_orderdate
    """,
    category="join",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING → semi join
    on the aggregated keyset (small → broadcast), then a 3-way join
    re-aggregated. The keyset agg is the only wide shuffle."""
    l = load(spark, sf_dir, "lineitem")
    keys = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > _Q18_THRESHOLD)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        l.join(keys, "l_orderkey")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(dsum("l_quantity").alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Encoding statistics (SURVEY §2.5): run lengths + exact NDV
# ---------------------------------------------------------------------------


# Runs are computed per key-range BLOCK (the encoding-chunk analogue):
# the window partitions by block, so every block sorts independently —
# no global-order window, which at 100 TB would funnel the whole table
# through one sort partition. Matches the reference, which computes
# repeat-run stats per encoding block, never across the file.
_RUN_BLOCK = 1000  # l_orderkey range per block


@register(
    "q_run_length_stats",
    oracle=f"""
    WITH ordered AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_orderkey // {_RUN_BLOCK} AS blk,
             CASE WHEN l_returnflag IS NOT DISTINCT FROM LAG(l_returnflag)
                  OVER (PARTITION BY l_orderkey // {_RUN_BLOCK}
                        ORDER BY l_orderkey, l_linenumber, l_returnflag) THEN 1 ELSE 0 END AS same
      FROM lineitem
    ),
    runs AS (
      SELECT blk,
             SUM(1 - same) OVER (PARTITION BY blk
                                 ORDER BY l_orderkey, l_linenumber, l_returnflag
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ),
    sizes AS (SELECT blk, run_id, COUNT(*) AS run_len FROM runs GROUP BY blk, run_id)
    SELECT COUNT(*) AS n_runs,
           MIN(run_len) AS min_run, MAX(run_len) AS max_run
    FROM sizes
    """,
    category="statistics",
)
def q_run_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max repeat-run statistics — the encoding-selection stat that
    decides RLE viability (Statistics.h min/max repeat run). Computed
    per key-range block (the encoding-chunk analogue): the window
    PARTITIONS by block, so blocks sort in parallel — the global-order
    single-partition sort is gone. LAG null (block head) counts as a
    run start, mirroring a chunk boundary resetting the run."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    blk = F.expr(f"l_orderkey div {_RUN_BLOCK}")
    # l_returnflag as final sort key makes the order TOTAL — the
    # corpus has duplicate (orderkey, linenumber) pairs, and runs are
    # only well-defined over a deterministic order
    w = W.partitionBy("blk").orderBy("l_orderkey", "l_linenumber", "l_returnflag")
    # null-safe equality: a NULL flag continues a NULL run on both
    # engines (IS NOT DISTINCT FROM ↔ eqNullSafe); the block head's
    # missing LAG counts as a run start
    chg = F.when(
        F.col("l_returnflag").eqNullSafe(F.lag("l_returnflag").over(w)), 0
    ).otherwise(1)
    runs = (
        l.withColumn("blk", blk)
        .withColumn("chg", chg)
        .withColumn("run_id", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    sizes = runs.groupBy("blk", "run_id").agg(F.count(F.lit(1)).alias("run_len"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.min("run_len").alias("min_run"),
        F.max("run_len").alias("max_run"),
    )


@register(
    "q_skew_salted_agg",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value")} AS total
    FROM events GROUP BY event_type
    """,
    category="aggregation",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation — the skew pattern for 100 TB:
    a low-cardinality hot key (4 event types over billions of rows)
    would hash all rows of one type to one reducer. Salting fans the
    partial agg over (key, salt % 16) so every reducer gets ~1/16 of a
    hot key, and the final agg combines 16 tiny partials per key.
    Result is provably identical to the plain groupBy (decimal sums
    are associative)."""
    e = load(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(27,6)")
    partial = (
        e.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "__salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum(dec).alias("ps"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"), rnd(F.sum("ps").cast("double"), 4).alias("total")
    )


@register(
    "q_percentiles",
    oracle=f"""
    SELECT event_type,
           {rnd_sql("quantile_cont(value, 0.5)")}  AS p50,
           {rnd_sql("quantile_cont(value, 0.95)")} AS p95,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    category="aggregation",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines use the
    same linear interpolation over the sorted values). At 100 TB swap
    in approx_percentile (t-digest) — documented divergence."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        rnd(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        rnd(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_array_fns",
    oracle="""
    WITH s AS (
      SELECT vec_id, list_sort(embedding, 'DESC') AS sorted_e, embedding
      FROM embeddings
    )
    SELECT vec_id,
           FLOOR((CAST(sorted_e[1] AS DOUBLE)) * 10000 + 0.5) / 10000 AS top1,
           FLOOR((CAST(sorted_e[2] AS DOUBLE)) * 10000 + 0.5) / 10000 AS top2,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM s
    """,
    category="scalar_fn",
)
def q_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth: sort (desc), element access, lambda
    filter, size — all JVM-side higher-order functions (no UDF)."""
    e = load(spark, sf_dir, "embeddings")
    s = e.select(
        "vec_id",
        F.reverse(F.array_sort("embedding")).alias("sorted_e"),
        "embedding",
    )
    return s.select(
        "vec_id",
        rnd(F.element_at("sorted_e", 1).cast("double"), 4).alias("top1"),
        rnd(F.element_at("sorted_e", 2).cast("double"), 4).alias("top2"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.size("embedding").cast("long").alias("dim"),
    )


@register(
    "q_ntile_window",
    oracle="""
    WITH t AS (
      SELECT event_type, value,
             ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS tile
      FROM events
    )
    SELECT event_type, tile, COUNT(*) AS n,
           FLOOR((MIN(value)) * 10000 + 0.5) / 10000 AS lo,
           FLOOR((MAX(value)) * 10000 + 0.5) / 10000 AS hi
    FROM t GROUP BY event_type, tile
    """,
    category="window",
)
def q_ntile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles per group (deterministic tie-break on event_id),
    re-aggregated to per-tile bounds."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    t = e.withColumn("tile", F.ntile(4).over(w))
    return t.groupBy("event_type", "tile").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.min("value"), 4).alias("lo"),
        rnd(F.max("value"), 4).alias("hi"),
    )


@register(
    "q_value_histogram",
    oracle="""
    WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
    binned AS (
      SELECT LEAST(9, CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)) AS BIGINT))
               AS bin
      FROM orders, b
    )
    SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin
    """,
    category="statistics",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram (10 bins over [min,max]) — the
    distribution statistic an optimizer's selectivity estimation
    uses beyond plain min/max (the reference records per-chunk
    min/max; a histogram is the natural next stat tier). Bounds come
    from one broadcast scalar agg; binning is a second scan-local
    pass — two scans, no shuffle of values."""
    o = load(spark, sf_dir, "orders")
    b = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    binned = o.crossJoin(b).select(
        F.least(
            F.lit(9),
            F.floor((F.col("o_totalprice") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)),
        ).cast("long").alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_null_semantics",
    oracle="""
    WITH t AS (SELECT NULLIF(o_orderstatus, 'P') AS v FROM orders),
    g AS (SELECT v, COUNT(*) AS cnt FROM t GROUP BY v)
    SELECT (SELECT COUNT(*) FROM t) AS n_all,
           (SELECT COUNT(v) FROM t) AS n_nonnull,
           (SELECT COUNT(DISTINCT v) AS ndv FROM t) AS ndv,
           (SELECT COUNT(*) FROM g) AS n_groups,
           (SELECT CAST(SUM(cnt * cnt) AS BIGINT) FROM g) AS nullsafe_pairs
    """,
    category="relational",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics conformance: COUNT(*) vs COUNT(col) (nulls
    excluded), COUNT(DISTINCT) (null excluded), GROUP BY treating
    NULL as one group, and the null-safe-equality join cardinality
    computed as Σ cnt² over groups (what an eqNullSafe self-join
    would produce) — the exact corners engines disagree on if NULL
    handling drifts."""
    t = load(spark, sf_dir, "orders").select(
        F.expr("nullif(o_orderstatus, 'P')").alias("v")
    )
    g = t.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        t.agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count("v").alias("n_nonnull"),
            F.countDistinct("v").alias("ndv"),
        )
        .crossJoin(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(F.col("cnt") * F.col("cnt")).alias("nullsafe_pairs"),
            )
        )
    )


# KMV (k-minimum-values) distinct-count sketch. Unlike HLL (whose
# Spark and DuckDB implementations differ and can never hash-match),
# KMV is exactly portable: the sketch IS the k smallest 60-bit value
# hashes, the estimator is pure integer/double arithmetic, and merge
# = k-smallest of the union — so a sharded computation provably equals
# the global one, which the query demonstrates by computing both.
_KMV_K = 64
_KMV_MAXH = 1 << 60  # hash60 range


_KMV_DUCK = f"""
    WITH hd AS (
      SELECT DISTINCT l_returnflag AS grp,
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM lineitem
    ),
    rk AS (
      SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
      FROM hd
    ),
    kept AS (
      SELECT grp, MAX(hv) AS hk, COUNT(*) AS nk
      FROM rk WHERE rn <= {_KMV_K} GROUP BY grp
    ),
    shd AS (
      SELECT DISTINCT l_linenumber % 2 AS shard, l_returnflag AS grp,
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM lineitem
    ),
    srk AS (
      SELECT shard, grp, hv,
             row_number() OVER (PARTITION BY shard, grp ORDER BY hv) AS rn
      FROM shd
    ),
    merged AS (
      SELECT DISTINCT grp, hv FROM srk WHERE rn <= {_KMV_K}
    ),
    mrk AS (
      SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
      FROM merged
    ),
    mkept AS (
      SELECT grp, MAX(hv) AS hk, COUNT(*) AS nk
      FROM mrk WHERE rn <= {_KMV_K} GROUP BY grp
    ),
    ex AS (
      SELECT l_returnflag AS grp, COUNT(DISTINCT l_partkey) AS ndv_exact
      FROM lineitem GROUP BY 1
    )
    SELECT ex.grp, ex.ndv_exact,
           CASE WHEN k.nk < {_KMV_K} THEN k.nk
                ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_KMV_MAXH} / k.hk) AS BIGINT)
           END AS kmv_est,
           CASE WHEN m.nk < {_KMV_K} THEN m.nk
                ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_KMV_MAXH} / m.hk) AS BIGINT)
           END AS kmv_est_merged
    FROM ex JOIN kept k ON k.grp = ex.grp JOIN mkept m ON m.grp = ex.grp
"""


@register("q_kmv_ndv_sketch", oracle=_KMV_DUCK, category="statistics")
def q_kmv_ndv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch (KMV, Bar-Yossef et al. 2002):
    per group keep the K=64 smallest 60-bit value hashes; estimate
    NDV as (K−1)·2⁶⁰/h_K (exact count when fewer than K hashes).
    The one sketch family that is engine-portable bit-for-bit — HLL
    registers differ between Spark and DuckDB, KMV is just order
    statistics of a shared hash.

    The query also computes the estimate a second way — two shard
    sketches (l_linenumber parity) merged by re-taking the k smallest
    of the union — and returns both: kmv_est_merged must equal
    kmv_est because min-k(min-k(A) ∪ min-k(B)) = min-k(A ∪ B). That
    equality is the property that lets 1000 executors sketch 100 TB
    locally and ship 64×8 bytes per group to a single merge.

    Physical shape here is window top-k over distinct (group, hash)
    pairs — Spark's WindowGroupLimit prunes each partition to its
    local k before the shuffle, which IS the map-side partial sketch."""
    l = load(spark, sf_dir, "lineitem")
    from nimble_spark.functions.text_fns import hash60_sql_spark

    hv = F.expr(hash60_sql_spark("CAST(l_partkey AS STRING)"))

    # One corpus scan for all three branches (was three): dedupe the
    # raw (shard, grp, partkey) triples first — a few hundred K rows
    # at sf0.1 — and derive everything from that materialized base:
    # the md5 pass then runs over the deduped set instead of the full
    # table (twice), and the exact-NDV branch counts distinct keys
    # without re-scanning. The global distinct (grp, hv) set is the
    # sharded one with `shard` projected away, so the two sketch
    # paths stay genuinely independent computations over the same
    # scan. (Guide §1.2: don't compute things twice; shuffle fewer
    # bytes.)
    base = (
        l.select(
            (F.col("l_linenumber") % 2).alias("shard"),
            F.col("l_returnflag").alias("grp"),
            "l_partkey",
        )
        .distinct()
        # failure semantics: SCALE.md § 'localCheckpoint failure semantics'
        .localCheckpoint(eager=False)
    )

    def _topk(hd: DataFrame, keys: list[str]) -> DataFrame:
        w = W.partitionBy(*keys).orderBy("hv")
        return hd.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= _KMV_K
        )

    est = F.when(F.col("nk") < _KMV_K, F.col("nk")).otherwise(
        F.floor(F.lit(float(_KMV_K - 1)) * _KMV_MAXH / F.col("hk")).cast("long")
    )

    kept = (
        _topk(base.select("grp", hv.alias("hv")).distinct(), ["grp"])
        .groupBy("grp")
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("nk"))
        .select("grp", est.alias("kmv_est"))
    )
    shards = _topk(
        base.select("shard", "grp", hv.alias("hv")).distinct(), ["shard", "grp"]
    )
    mkept = (
        _sketch_merge(shards)
        .groupBy("grp")
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("nk"))
        .select("grp", est.alias("kmv_est_merged"))
    )
    ex = (
        base.filter(F.col("l_partkey").isNotNull())
        .select("grp", "l_partkey")
        .distinct()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("ndv_exact"))
    )
    return ex.join(kept, "grp").join(mkept, "grp")


def _sketch_merge(shard_sketches: DataFrame) -> DataFrame:
    """Merge per-shard KMV sketches: union the kept hashes, dedupe,
    re-take the k smallest per group."""
    merged = shard_sketches.select("grp", "hv").distinct()
    w = W.partitionBy("grp").orderBy("hv")
    return merged.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )


@register(
    "q_ndv_stats",
    oracle="""
    SELECT COUNT(DISTINCT l_returnflag) AS ndv_returnflag,
           COUNT(DISTINCT l_linestatus) AS ndv_linestatus,
           COUNT(DISTINCT l_partkey)    AS ndv_partkey,
           COUNT(DISTINCT l_quantity)   AS ndv_quantity,
           CAST(SUM(LENGTH(l_returnflag)) AS BIGINT) AS flag_bytes,
           COUNT(*)                     AS n_rows
    FROM lineitem
    """,
    category="statistics",
)
def q_ndv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unique-value counts + total string bytes — the per-block
    stats driving dictionary-encoding selection (Statistics.h
    uniqueCounts / totalStringsLength). Exact NDV here matches the
    reference's hashmap counting; at 100 TB swap in
    approx_count_distinct (documented divergence, SURVEY §7)."""
    l = load(spark, sf_dir, "lineitem")
    return l.agg(
        F.countDistinct("l_returnflag").alias("ndv_returnflag"),
        F.countDistinct("l_linestatus").alias("ndv_linestatus"),
        F.countDistinct("l_partkey").alias("ndv_partkey"),
        F.countDistinct("l_quantity").alias("ndv_quantity"),
        F.sum(F.length("l_returnflag")).alias("flag_bytes"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment, o_orderkey,
           FLOOR((o_totalprice) * 10000 + 0.5) / 10000 AS price, rk
    FROM r WHERE rk <= 3
    """,
    category="window",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — the grouped variant of top-k that Spark
    compiles to WindowGroupLimit: each partition pre-prunes to its
    local top-3 BEFORE the shuffle, so the exchange moves ≤ 3·P rows
    per group, not the table (verified in the plan audit; this is the
    rank-based pushdown Spark 3.5+ applies automatically). Ties broken
    on orderkey; price is double passthrough (exact on both engines)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "c_mktsegment", "o_orderkey", rnd("o_totalprice").alias("price"), "rk"
        )
    )


# ---------------------------------------------------------------------------
# Raw-size accounting (§2.5 — velox/RawSizeUtils.cpp, 987 LoC: the
# logical decoded size of each column, independent of encoding)
# ---------------------------------------------------------------------------

# Byte model, declared identically on both sides: fixed-width types
# count width × non-null values; strings count their character bytes
# (ASCII corpus: length == octet_length on both engines); every null
# counts 1 byte (the reference's kNullSize). The *ratio* against the
# encoded size in SHOW FILES is the compression-accounting the
# reference's consistency check validates (VeloxWriter.cpp:1335-1360).
_RAW_WIDTHS = {
    "l_orderkey": 8, "l_partkey": 8, "l_suppkey": 8, "l_linenumber": 4,
    "l_quantity": 8, "l_extendedprice": 8, "l_discount": 8, "l_tax": 8,
    "l_shipdate": 8,
}
_RAW_STRINGS = ["l_returnflag", "l_linestatus"]


@register(
    "q_raw_size_accounting",
    oracle="""
    SELECT * FROM (
    """ + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col, COUNT(*) AS n_rows, COUNT({c}) AS n_nonnull,
             CAST({w} * COUNT({c}) + (COUNT(*) - COUNT({c})) AS BIGINT) AS raw_bytes
        FROM lineitem"""
        for c, w in _RAW_WIDTHS.items()
    ) + "\nUNION ALL\n" + "\nUNION ALL\n".join(
        f"""SELECT '{c}', COUNT(*), COUNT({c}),
             CAST(COALESCE(SUM(len({c})), 0) + (COUNT(*) - COUNT({c})) AS BIGINT)
        FROM lineitem"""
        for c in _RAW_STRINGS
    ) + ")",
    category="statistics",
)
def q_raw_size_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column logical (decoded) byte accounting — the RawSizeUtils
    surface (dwio/nimble/velox/RawSizeUtils.cpp; consistency check
    writer/VeloxWriter.cpp:1335-1360). ONE scan: a single wide
    aggregate computes every column's counters, then an inline
    explode pivots the agg row into per-column rows — no per-column
    rescan, no shuffle beyond the 1-row agg."""
    l = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in _RAW_WIDTHS:
        aggs.append(F.count(c).alias(f"{c}__nn"))
    for c in _RAW_STRINGS:
        aggs.append(F.count(c).alias(f"{c}__nn"))
        aggs.append(F.coalesce(F.sum(F.length(c)), F.lit(0)).alias(f"{c}__len"))
    one = l.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col"),
            F.col("__n").alias("n_rows"),
            F.col(f"{c}__nn").alias("n_nonnull"),
            (F.lit(w) * F.col(f"{c}__nn") + (F.col("__n") - F.col(f"{c}__nn")))
            .cast("bigint").alias("raw_bytes"),
        )
        for c, w in _RAW_WIDTHS.items()
    ] + [
        F.struct(
            F.lit(c).alias("col"),
            F.col("__n").alias("n_rows"),
            F.col(f"{c}__nn").alias("n_nonnull"),
            (F.col(f"{c}__len") + (F.col("__n") - F.col(f"{c}__nn")))
            .cast("bigint").alias("raw_bytes"),
        )
        for c in _RAW_STRINGS
    ]
    return one.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Statistical-moment aggregates (variance / stddev / covariance / corr)
# ---------------------------------------------------------------------------

# Exact-decimal formulation (functions/exact.py): sums of x, x², y, xy
# go through DECIMAL(27,6) so partial aggregation order cannot move a
# rounding boundary between engines; the moments derive from those
# exact sums in IEEE doubles, identically on both sides. Spark's
# built-in var_pop/corr produce the same values up to float
# associativity — the decimal path is what makes them oracle-exact.


@register(
    "q_stats_moments",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(user_id AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(user_id AS DOUBLE) * CAST(user_id AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(value * CAST(user_id AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           {rnd_sql("sxx / n - (sx / n) * (sx / n)")} AS var_pop_v,
           {rnd_sql("sqrt(sxx / n - (sx / n) * (sx / n))")} AS stddev_pop_v,
           {rnd_sql("(sxx - sx * sx / n) / (n - 1)")} AS var_samp_v,
           {rnd_sql("sxy / n - (sx / n) * (sy / n)")} AS covar_pop_vu,
           {rnd_sql("(sxy / n - (sx / n) * (sy / n)) / (sqrt(sxx / n - (sx / n) * (sx / n)) * sqrt(syy / n - (sy / n) * (sy / n)))")} AS corr_vu
    FROM s
    """,
    category="statistics",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: population/sample variance,
    stddev, covariance, and Pearson correlation of (value, user_id).
    One hash aggregation carrying five exact decimal sums — the same
    partial+final shape Spark's built-in var_pop/corr use, made
    order-independent (and thus engine-exact) by the decimal casts.
    At 100 TB: map-side combine reduces each partition to one row per
    group before the shuffle."""
    e = load(spark, sf_dir, "events")
    DEC = "decimal(27,6)"
    v = F.col("value")
    u = F.col("user_id").cast("double")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast(DEC)).cast("double").alias("sxx"),
        F.sum(u.cast(DEC)).cast("double").alias("sy"),
        F.sum((u * u).cast(DEC)).cast("double").alias("syy"),
        F.sum((v * u).cast(DEC)).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_pop = sxx / n - (sx / n) * (sx / n)
    var_pop_y = syy / n - (sy / n) * (sy / n)
    covar_pop = sxy / n - (sx / n) * (sy / n)
    return s.select(
        "event_type",
        "n",
        rnd(var_pop, 4).alias("var_pop_v"),
        rnd(F.sqrt(var_pop), 4).alias("stddev_pop_v"),
        rnd((sxx - sx * sx / n) / (n - 1), 4).alias("var_samp_v"),
        rnd(covar_pop, 4).alias("covar_pop_vu"),
        rnd(covar_pop / (F.sqrt(var_pop) * F.sqrt(var_pop_y)), 4).alias("corr_vu"),
    )


# ---------------------------------------------------------------------------
# try_* error-safe arithmetic (ANSI-mode null-on-error semantics)
# ---------------------------------------------------------------------------


@register(
    "q_try_arith",
    oracle="""
    SELECT event_id,
           CASE WHEN user_id % 3 = 0 THEN NULL
                ELSE FLOOR((value / (user_id % 3)) * 10000 + 0.5) / 10000 END AS safe_div,
           TRY_CAST(event_type AS INTEGER) AS cast_int,
           CASE WHEN user_id > 0 THEN NULL
                ELSE user_id + 9223372036854775807 END AS safe_add,
           string_split(event_type, '_')[5] AS elem_oob
    FROM events
    """,
    category="relational",
)
def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar arithmetic: try_divide (null on /0), try_cast
    (null on bad cast), try_add (null on int64 overflow), and
    out-of-bounds element access. The null-on-error contract is what
    lets a 100 TB pipeline survive dirty rows without per-row Python
    guards or task retries — errors become nulls that flow through
    aggregation, they don't kill stages."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        rnd(F.expr("try_divide(value, user_id % 3)"), 4).alias("safe_div"),
        F.expr("try_cast(event_type AS INT)").alias("cast_int"),
        F.expr("try_add(user_id, 9223372036854775807L)").alias("safe_add"),
        F.expr("try_element_at(split(event_type, '_'), 5)").alias("elem_oob"),
    )


# ---------------------------------------------------------------------------
# Boolean / bitwise aggregates
# ---------------------------------------------------------------------------


@register(
    "q_bool_bitwise_agg",
    oracle="""
    SELECT event_type,
           bit_and(user_id) AS band,
           bit_or(user_id) AS bor,
           bit_xor(user_id) AS bxor,
           bool_and(value > 0) AS all_pos,
           bool_or(value > 500) AS any_large
    FROM events GROUP BY event_type
    """,
    category="relational",
)
def q_bool_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise (bit_and/or/xor) and boolean (bool_and/bool_or)
    aggregates — the flag-combining primitives of permission masks,
    feature bitmaps, and data-quality rollups. All associative +
    commutative, so Spark runs them partial/final with map-side
    combine; the shuffle carries one 8-byte accumulator per group."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("bit_and(user_id)").alias("band"),
        F.expr("bit_or(user_id)").alias("bor"),
        F.expr("bit_xor(user_id)").alias("bxor"),
        F.expr("bool_and(value > 0)").alias("all_pos"),
        F.expr("bool_or(value > 500)").alias("any_large"),
    )


@register(
    "q_skew_salted_join",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT event_type,
             len(event_type) * 10 AS weight
      FROM events
    )
    SELECT e.event_type, COUNT(*) AS n,
           {dsum_sql("e.value * d.weight")} AS weighted
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    category="join",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join — the join-side twin of q_skew_salted_agg.
    A fact table whose join key is a low-cardinality hot key (5 event
    types over billions of rows) would send each type to ONE reducer
    in a plain shuffle join. Salting fans the fact side over
    (key, salt ∈ 0..7) and replicates the dim side 8× (explode), so
    the join key (key, salt) spreads each hot key across 8 reducers.
    Result provably identical to the plain join the oracle runs.
    When the dim fits in memory a broadcast join is strictly better —
    salting is for the mid-size dim / giant skewed fact regime where
    neither broadcast nor plain shuffle works. shuffle_hash hints keep
    AQE from flipping to broadcast here, so the audited plan IS the
    salted shape."""
    _N_SALT = 8
    e = load(spark, sf_dir, "events")
    dim = (
        e.select("event_type").distinct()
        .withColumn("weight", (F.length("event_type") * 10).cast("bigint"))
    )
    fact = e.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(_N_SALT)))
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1)).cast("array<bigint>"))
    )
    j = fact.hint("shuffle_hash").join(
        dim_rep.hint("shuffle_hash"), ["event_type", "__salt"]
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value") * F.col("weight")).alias("weighted"),
    )


@register(
    "q_value_outliers",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      FROM events GROUP BY user_id
    ),
    z AS (
      SELECT e.event_id, e.user_id, e.value,
             (e.value - s.sx / s.n)
               / sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) AS zscore
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE s.n >= 30
    )
    SELECT event_id, user_id,
           {rnd_sql("value")} AS value,
           {rnd_sql("zscore")} AS zscore
    FROM z WHERE abs(zscore) > 3
    """,
    category="statistics",
)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity anomaly detection: events whose value sits more than
    3 population standard deviations from THEIR OWN user's mean —
    the per-key z-score filter every telemetry pipeline runs before
    training on metrics. Two passes sharing one hash partitioning on
    user_id: an exact-decimal moments aggregation (map-side partials,
    one row per user) broadcast-joined back into the scan, then a
    purely row-local z filter — no window, no sort, no second
    shuffle. Users with < 30 events are excluded (z-scores from tiny
    samples are noise, and zero-variance users would divide by 0)."""
    e = load(spark, sf_dir, "events")
    DEC = "decimal(27,6)"
    v = F.col("value")
    s = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v.cast(DEC)).cast("double").alias("sx"),
            F.sum((v * v).cast(DEC)).cast("double").alias("sxx"),
        )
        .filter(F.col("n") >= 30)
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(F.col("sxx") / F.col("n") - mean * mean)
    z = (F.col("value") - mean) / std
    return (
        e.join(s, "user_id")
        .select("event_id", "user_id", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3)
        .select(
            "event_id",
            "user_id",
            rnd("value", 4).alias("value"),
            rnd("zscore", 4).alias("zscore"),
        )
    )


@register(
    "q_mode_stats",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS n
      FROM events GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rk
      FROM c
    )
    SELECT event_type, user_id AS mode_user, CAST(n AS BIGINT) AS n_occurrences
    FROM r WHERE rk = 1
    """,
    category="statistics",
)
def q_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (most frequent value) per group with a deterministic
    tie-break (smallest value wins) — the one classic aggregate Spark
    and DuckDB both ship with UNDEFINED tie order, made
    differential-testable by ranking explicitly. Count + rank share
    one hash partitioning on the group key; WindowGroupLimit prunes
    to each partition's local top-1 before the rank shuffle."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    r = c.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
        ),
    )
    return r.filter(F.col("rk") == 1).select(
        "event_type", F.col("user_id").alias("mode_user"), F.col("n").alias("n_occurrences")
    )


@register(
    "q_winsorized_stats",
    oracle=f"""
    WITH p AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT e.event_type,
             GREATEST(p.lo, LEAST(p.hi, e.value)) AS v,
             CASE WHEN e.value < p.lo OR e.value > p.hi THEN 1 ELSE 0 END AS clipped
      FROM events e JOIN p ON p.event_type = e.event_type
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(clipped) AS BIGINT) AS n_clipped,
           {rnd_sql("CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)")} AS wins_mean
    FROM w GROUP BY event_type
    """,
    category="statistics",
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: values clipped to their group's
    [P5, P95] before averaging — the outlier-robust aggregate every
    metrics pipeline wants when a few stragglers would swamp a plain
    mean (the complement of q_value_outliers, which FINDS the
    stragglers). Both engines compute the same linearly-interpolated
    percentiles, the clip is branch-free LEAST/GREATEST, and the mean
    goes through exact decimal sums. Shape: one percentile agg per
    group (tiny) broadcast back into the scan; at 100 TB swap the
    exact percentiles for approx_percentile (documented divergence,
    same as q_percentiles)."""
    e = load(spark, sf_dir, "events")
    p = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    j = e.join(p, "event_type")
    v = F.greatest("lo", F.least("hi", F.col("value")))
    clipped = F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1).otherwise(0)
    return (
        j.select("event_type", v.alias("v"), clipped.alias("clipped"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clipped").cast("long").alias("n_clipped"),
            rnd(
                F.sum(F.col("v").cast("decimal(27,6)")).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("wins_mean"),
        )
    )


@register(
    "q_quality_profile",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           CAST(SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_value,
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_value,
           CAST(SUM(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS nan_value,
           CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_props,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv_type,
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts
    FROM events
    """,
    category="statistics",
)
def q_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column data-quality profile — the pre-ingest audit every
    pipeline runs before trusting a new drop: null / zero / negative /
    NaN counts for the measure column, empty payloads, key
    cardinality, null timestamps. One partial-agged pass; at 100 TB
    this is the query that decides whether a shard is quarantined
    before it ever reaches dedup (NaN handling is explicit — Spark
    and DuckDB both exclude NaN from `< 0` but count it in isnan)."""
    e = load(spark, sf_dir, "events")
    v = F.col("value")
    return e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).cast("long").alias("null_value"),
        F.sum(F.when(v == 0, 1).otherwise(0)).cast("long").alias("zero_value"),
        F.sum(F.when(v < 0, 1).otherwise(0)).cast("long").alias("neg_value"),
        F.sum(F.when(F.isnan(v), 1).otherwise(0)).cast("long").alias("nan_value"),
        F.sum(
            F.when(F.col("props").isNull() | (F.col("props") == ""), 1).otherwise(0)
        ).cast("long").alias("empty_props"),
        F.countDistinct("event_type").alias("ndv_type"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).cast("long").alias("null_ts"),
    )


@register(
    "q_ab_test_analysis",
    oracle=f"""
    WITH g AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT grp, n, sx / n AS mean,
             (sxx - sx * sx / n) / (n - 1) AS var_s
      FROM g
    ),
    ab AS (
      SELECT a.n AS n_a, a.mean AS mean_a, a.var_s AS var_a,
             b.n AS n_b, b.mean AS mean_b, b.var_s AS var_b
      FROM m a JOIN m b ON a.grp = 'A' AND b.grp = 'B'
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           {rnd_sql("mean_a")} AS mean_a, {rnd_sql("mean_b")} AS mean_b,
           {rnd_sql("mean_a - mean_b")} AS lift,
           {rnd_sql("(mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)")} AS t_welch
    FROM ab
    """,
    category="statistics",
)
def q_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout: group means, lift, and the Welch
    t-statistic for unequal variances — the A/B analysis every
    event-logging pipeline terminates in (significance thresholds are
    a lookup on t; the statistic itself is pure portable arithmetic —
    sample variances from exact decimal sums, one sqrt). The split
    here is user-id parity as a deterministic stand-in for an
    assignment column. One partial-agged pass; the two-row join is
    driver-size."""
    e = load(spark, sf_dir, "events")
    DEC = "decimal(27,6)"
    v = F.col("value")
    g = e.groupBy(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast(DEC)).cast("double").alias("sxx"),
    )
    m = g.select(
        "grp",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("var_s"),
    )
    a = m.filter(F.col("grp") == "A").alias("a")
    b = m.filter(F.col("grp") == "B").alias("b")
    ab = a.crossJoin(b).select(
        F.col("a.n").alias("n_a"), F.col("a.mean").alias("mean_a"), F.col("a.var_s").alias("var_a"),
        F.col("b.n").alias("n_b"), F.col("b.mean").alias("mean_b"), F.col("b.var_s").alias("var_b"),
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return ab.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        rnd("mean_a", 4).alias("mean_a"),
        rnd("mean_b", 4).alias("mean_b"),
        rnd(F.col("mean_a") - F.col("mean_b"), 4).alias("lift"),
        rnd(t, 4).alias("t_welch"),
    )


@register(
    "q_equi_depth_histogram",
    oracle="""
    WITH r AS (
      SELECT l_extendedprice AS v,
             ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bkt
      FROM lineitem
    )
    SELECT bkt, COUNT(*) AS n,
           FLOOR((MIN(v)) * 10000 + 0.5) / 10000 AS lo,
           FLOOR((MAX(v)) * 10000 + 0.5) / 10000 AS hi
    FROM r GROUP BY bkt
    """,
    category="statistics",
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram: 10 buckets of equal row
    count with their value boundaries — the selectivity-estimation
    statistic every cost-based optimizer keeps per column (uniform-
    width histograms lie under skew; equi-depth doesn't). Ties break
    deterministically on the row key so both engines cut identical
    buckets. The global ntile is the test-scale construction; at
    100 TB the boundaries come from approx_percentile and the counts
    from one pass over the boundaries (documented divergence, same
    family as q_percentiles)."""
    from pyspark.sql import Window as W

    l = load(spark, sf_dir, "lineitem")
    r = l.select(
        F.col("l_extendedprice").alias("v"),
        F.ntile(10)
        .over(W.orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
        .alias("bkt"),
    )
    return r.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.min("v"), 4).alias("lo"),
        rnd(F.max("v"), 4).alias("hi"),
    )
