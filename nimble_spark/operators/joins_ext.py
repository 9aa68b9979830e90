"""Extended join operators the reference's ecosystem needs but Spark
has no single-call primitive for: as-of joins, band/range joins,
bucketized lookup joins.

The as-of join uses the union-merge pattern: tag both sides, sort once
per key, carry the latest left-side attributes forward with
last(ignorenulls). One shuffle, no row explosion — this is the shape
that survives 100 TB (a naive `join + filter + row_number` explodes on
skewed keys; this stays linear per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nimble_spark.functions.exact import dsum, dsum_sql, rnd
from nimble_spark.registry import register
from nimble_spark.tables import load

R4 = 4

# DuckDB oracle replicates the same union-merge semantics (latest event
# with ts <= o_orderdate, ties broken by larger event_id) so both
# engines agree even when several events share a timestamp.
_ASOF_ORACLE = """
WITH tagged AS (
  SELECT user_id AS uk, CAST(ts AS TIMESTAMP) AS tk, event_id, value, 0 AS tag,
         NULL::BIGINT AS o_orderkey
  FROM events
  UNION ALL
  SELECT o_custkey AS uk, o_orderdate AS tk, NULL, NULL, 1 AS tag, o_orderkey
  FROM orders
), merged AS (
  SELECT *,
         LAST_VALUE(event_id IGNORE NULLS) OVER w AS asof_event,
         LAST_VALUE(value    IGNORE NULLS) OVER w AS asof_value
  FROM tagged
  WINDOW w AS (PARTITION BY uk ORDER BY tk, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT o_orderkey, uk AS custkey, asof_event,
       FLOOR((asof_value) * 10000 + 0.5) / 10000 AS asof_value
FROM merged WHERE tag = 1
"""


@register("q_asof_join", oracle=_ASOF_ORACLE, category="join_ext")
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the latest event of the same user
    with ts <= o_orderdate (union-merge, single shuffle)."""
    e = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("uk"),
        F.col("ts").alias("tk"),
        "event_id",
        "value",
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uk"),
        F.col("o_orderdate").alias("tk"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("tag"),
        "o_orderkey",
    )
    w = (
        W.partitionBy("uk")
        .orderBy("tk", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    merged = e.unionByName(o).select(
        "*",
        F.last("event_id", ignorenulls=True).over(w).alias("asof_event"),
        F.last("value", ignorenulls=True).over(w).alias("asof_value"),
    )
    return merged.filter(F.col("tag") == 1).select(
        "o_orderkey",
        F.col("uk").alias("custkey"),
        "asof_event",
        rnd("asof_value", 4).alias("asof_value"),
    )


@register(
    "q_asof_join_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id AS uk, CAST(ts AS TIMESTAMP) AS tk, event_id, 0 AS tag,
             NULL::BIGINT AS o_orderkey
      FROM events
      UNION ALL
      SELECT o_custkey AS uk, o_orderdate AS tk, NULL, 1 AS tag, o_orderkey
      FROM orders
    ), merged AS (
      SELECT *,
             LAST_VALUE(event_id IGNORE NULLS) OVER wp AS pv_id,
             LAST_VALUE(CASE WHEN tag = 0 THEN tk END IGNORE NULLS) OVER wp AS pv_ts,
             FIRST_VALUE(event_id IGNORE NULLS) OVER wn AS nv_id,
             FIRST_VALUE(CASE WHEN tag = 0 THEN tk END IGNORE NULLS) OVER wn AS nv_ts
      FROM tagged
      WINDOW
        wp AS (PARTITION BY uk ORDER BY tk, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY uk ORDER BY tk, tag, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderkey, uk AS custkey,
           CASE
             WHEN pv_id IS NULL THEN nv_id
             WHEN nv_id IS NULL THEN pv_id
             WHEN epoch_us(tk) - epoch_us(pv_ts) <= epoch_us(nv_ts) - epoch_us(tk) THEN pv_id
             ELSE nv_id
           END AS nearest_event,
           CAST(LEAST(COALESCE(epoch_us(tk) - epoch_us(pv_ts), 4611686018427387904),
                      COALESCE(epoch_us(nv_ts) - epoch_us(tk), 4611686018427387904)) AS BIGINT) AS dist_us
    FROM merged WHERE tag = 1
    """,
    category="join_ext",
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: for each order, the same user's
    event closest in time on EITHER side of the order date (backward
    wins ties). Same single-shuffle union-merge as the directional
    as-ofs — both direction candidates come from one window pass, no
    second join. The third as-of flavor (backward / forward /
    nearest) completing the family."""
    e = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("uk"),
        F.col("ts").alias("tk"),
        "event_id",
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uk"),
        F.col("o_orderdate").alias("tk"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("tag"),
        "o_orderkey",
    )
    wp = W.partitionBy("uk").orderBy("tk", "tag", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    wn = W.partitionBy("uk").orderBy("tk", "tag", "event_id").rowsBetween(
        0, W.unboundedFollowing
    )
    ev_ts = F.when(F.col("tag") == 0, F.col("tk"))
    merged = e.unionByName(o).select(
        "*",
        F.last("event_id", ignorenulls=True).over(wp).alias("pv_id"),
        F.last(ev_ts, ignorenulls=True).over(wp).alias("pv_ts"),
        F.first("event_id", ignorenulls=True).over(wn).alias("nv_id"),
        F.first(ev_ts, ignorenulls=True).over(wn).alias("nv_ts"),
    )
    db = F.unix_micros("tk") - F.unix_micros("pv_ts")
    df_ = F.unix_micros("nv_ts") - F.unix_micros("tk")
    nearest = (
        F.when(F.col("pv_id").isNull(), F.col("nv_id"))
        .when(F.col("nv_id").isNull(), F.col("pv_id"))
        .when(db <= df_, F.col("pv_id"))
        .otherwise(F.col("nv_id"))
    )
    big = F.lit(4611686018427387904)
    dist = F.least(F.coalesce(db, big), F.coalesce(df_, big))
    return merged.filter(F.col("tag") == 1).select(
        "o_orderkey",
        F.col("uk").alias("custkey"),
        nearest.alias("nearest_event"),
        dist.cast("long").alias("dist_us"),
    )


@register(
    "q_range_join_keyed",
    oracle=f"""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT o_orderkey, COUNT(event_id) AS n_events,
           COALESCE({dsum_sql("value")}, 0) AS sum_v
    FROM orders LEFT JOIN ev
      ON user_id = o_custkey
     AND ts >= o_orderdate
     AND ts <  o_orderdate + INTERVAL 7 DAY
    GROUP BY o_orderkey
    """,
    category="join_ext",
)
def q_range_join_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed range join: events within 7 days after each order by the
    same user. The equi-key (user) carries the shuffle; the time range
    is a post-join filter — no quadratic blow-up."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    cond = (
        (e.user_id == o.o_custkey)
        & (e.ts >= o.o_orderdate)
        & (e.ts < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        o.join(e, cond, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("event_id").alias("n_events"),
            F.coalesce(dsum("value"), F.lit(0.0)).alias("sum_v"),
        )
    )


@register(
    "q_band_join",
    oracle=f"""
    WITH buckets(lo, hi, bucket) AS (
      VALUES (0, 10, 'S'), (10, 25, 'M'), (25, 40, 'L'), (40, 1000, 'XL')
    )
    SELECT bucket, COUNT(*) AS n, {dsum_sql("l_extendedprice")} AS rev
    FROM lineitem JOIN buckets
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY bucket
    """,
    category="join_ext",
)
def q_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval-membership) join against a tiny bucket dim →
    BroadcastNestedLoopJoin; the small side is always broadcast."""
    l = load(spark, sf_dir, "lineitem")
    buckets = l.sparkSession.createDataFrame(
        [(0, 10, "S"), (10, 25, "M"), (25, 40, "L"), (40, 1000, "XL")], "lo INT, hi INT, bucket STRING"
    )
    return (
        l.join(
            buckets,
            (l.l_quantity >= buckets.lo) & (l.l_quantity < buckets.hi),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("rev"))
    )


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           FLOOR((SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)) * 10000 + 0.5) / 10000 AS qty_o,
           FLOOR((SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)) * 10000 + 0.5) / 10000 AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="aggregation",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation)."""
    l = load(spark, sf_dir, "lineitem")
    piv = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    return piv.select(
        "l_returnflag",
        rnd(F.coalesce("O", F.lit(0.0)), 4).alias("qty_o"),
        rnd(F.coalesce("F", F.lit(0.0)), 4).alias("qty_f"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, metric, FLOOR((val) * 10000 + 0.5) / 10000 AS val
    FROM (
      SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    ) t
    """,
    category="aggregation",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) via stack()."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("stack(2, 'retailprice', p_retailprice, 'size', CAST(p_size AS DOUBLE))").alias(
            "metric", "val_raw"
        ),
    ).select("p_partkey", "metric", rnd("val_raw", 4).alias("val"))


@register(
    "q_asof_join_forward",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    merged AS (
      SELECT user_id AS uk, ts AS tk, event_id, value,
             0 AS tag, NULL::BIGINT AS o_orderkey, ts AS event_tk
      FROM ev
      UNION ALL
      SELECT o_custkey, o_orderdate, NULL, NULL, 1, o_orderkey, NULL
      FROM orders
    ),
    x AS (
      SELECT *,
        first_value(event_id IGNORE NULLS) OVER w AS nx_event,
        first_value(value    IGNORE NULLS) OVER w AS nx_value,
        first_value(event_tk IGNORE NULLS) OVER w AS nx_tk
      FROM merged
      WINDOW w AS (PARTITION BY uk
                   ORDER BY tk ASC, tag DESC, event_id ASC NULLS FIRST
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderkey, uk AS custkey,
           CASE WHEN nx_tk <= tk + INTERVAL 7 DAY THEN nx_event END AS fwd_event,
           CASE WHEN nx_tk <= tk + INTERVAL 7 DAY
                THEN FLOOR((nx_value) * 10000 + 0.5) / 10000 END AS fwd_value
    FROM x WHERE tag = 1
    """,
    category="join_ext",
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: for each order, the EARLIEST
    event of the same user at-or-after the order date, kept only if it
    falls within 7 days (else null) — the feature-engineering shape
    "next action within a window". Same union-merge discipline as the
    backward as-of (one shuffle, linear per key); the tolerance is a
    post-window predicate, not a join condition, so no row explosion."""
    e = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("uk"),
        F.col("ts").alias("tk"),
        "event_id",
        "value",
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("ts").alias("event_tk"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uk"),
        F.col("o_orderdate").alias("tk"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("tag"),
        "o_orderkey",
        F.lit(None).cast("timestamp").alias("event_tk"),
    )
    w = (
        W.partitionBy("uk")
        .orderBy(F.col("tk").asc(), F.col("tag").desc(), F.col("event_id").asc_nulls_first())
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    merged = e.unionByName(o).select(
        "*",
        F.first("event_id", ignorenulls=True).over(w).alias("nx_event"),
        F.first("value", ignorenulls=True).over(w).alias("nx_value"),
        F.first("event_tk", ignorenulls=True).over(w).alias("nx_tk"),
    )
    in_tol = F.col("nx_tk") <= F.col("tk") + F.expr("INTERVAL 7 DAYS")
    return merged.filter(F.col("tag") == 1).select(
        "o_orderkey",
        F.col("uk").alias("custkey"),
        F.when(in_tol, F.col("nx_event")).alias("fwd_event"),
        F.when(in_tol, rnd("nx_value", 4)).alias("fwd_value"),
    )


@register(
    "q_interval_overlap_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
             CAST(o_orderdate AS DATE) + 7 AS d1
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        AND o_orderdate < TIMESTAMP '1995-04-01'
    ),
    b AS (
      SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS s0,
             CAST(l_shipdate AS DATE) + (l_linenumber * 2) AS s1
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-02-15'
        AND l_shipdate < TIMESTAMP '1995-04-15'
    )
    SELECT a.o_orderkey, COUNT(*) AS n_overlaps,
           CAST(MIN(b.l_orderkey) AS BIGINT) AS min_lkey,
           CAST(MAX(b.l_orderkey) AS BIGINT) AS max_lkey
    FROM a JOIN b ON a.d0 <= b.s1 AND b.s0 < a.d1
    GROUP BY a.o_orderkey
    """,
    category="join_ext",
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — pairs of time intervals that intersect
    ([d0, d1) order-fulfilment windows × [s0, s1] shipment windows) —
    an operator Spark has no native physical strategy for (the naive
    form is a cartesian with a theta filter). The scale path is BIN
    JOINING: each interval explodes into its covered day bins, the
    join is bin-equi (shuffle-friendly, skew = interval density per
    day), the true overlap predicate re-checks after the join, and
    each qualifying pair is emitted EXACTLY ONCE at the canonical bin
    `greatest(d0, s0)` — a bin both intervals provably cover — so no
    DISTINCT shuffle is needed. The oracle runs the plain theta join
    over the same (filter-bounded) inputs; identical pair set by
    construction. Cost: O(Σ interval_days) exploded rows instead of
    O(|A|·|B|) candidate pairs."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    a = (
        o.filter(
            (F.col("o_orderdate") >= "1995-03-01")
            & (F.col("o_orderdate") < "1995-04-01")
        )
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("d0"),
            F.date_add(F.to_date("o_orderdate"), 7).alias("d1"),
        )
    )
    b = (
        l.filter(
            (F.col("l_shipdate") >= "1995-02-15") & (F.col("l_shipdate") < "1995-04-15")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.to_date("l_shipdate").alias("s0"),
            F.expr("date_add(to_date(l_shipdate), l_linenumber * 2)").alias("s1"),
        )
    )
    # [d0, d1) covers bins d0 .. d1-1; [s0, s1] covers s0 .. s1.
    ab = a.select(
        "o_orderkey", "d0", "d1",
        F.explode(F.expr("sequence(d0, date_sub(d1, 1), interval 1 day)")).alias("bin"),
    )
    bb = b.select(
        "l_orderkey", "l_linenumber", "s0", "s1",
        F.explode(F.expr("sequence(s0, s1, interval 1 day)")).alias("bin"),
    )
    pairs = (
        ab.join(bb, "bin")
        .filter((F.col("d0") <= F.col("s1")) & (F.col("s0") < F.col("d1")))
        .filter(F.col("bin") == F.greatest("d0", "s0"))
    )
    return pairs.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.min("l_orderkey").alias("min_lkey"),
        F.max("l_orderkey").alias("max_lkey"),
    )
