"""Time-series / event-window operators over the `events` table.

Batch analogues of the Structured Streaming windows (tumbling,
sliding, session) — the streaming versions live in
nimble_spark/streaming/; these batch forms are the oracle-checkable
surface. `events.ts` is nanosecond parquet; Spark reads it at
microsecond precision — all bucket edges here are ≥1 minute so the
truncation is semantics-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import davg, davg_sql, dsum, dsum_sql, rnd, rnd_sql
from nimble_spark.registry import register
from nimble_spark.tables import load

R4 = 4


@register(
    "q_tumbling_window",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*)              AS n,
           {dsum_sql("value")}   AS sum_v,
           FLOOR((MAX(value)) * 10000 + 0.5) / 10000  AS max_v
    FROM events
    GROUP BY 1, 2
    """,
    category="time_window",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (F.window)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_v"),
            rnd(F.max("value"), 4).alias("max_v"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_v",
            "max_v",
        )
    )


@register(
    "q_sliding_window",
    oracle=f"""
    WITH shifted AS (
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE)
               - INTERVAL 30 MINUTE AS w, value
      FROM events
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS n, {davg_sql("value")} AS avg_v
    FROM shifted
    GROUP BY w
    """,
    category="time_window",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour width, 30-minute slide — each event lands
    in 2 overlapping windows (Spark expands via the window generator)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), davg("value").alias("avg_v"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
            "avg_v",
        )
    )


@register(
    "q_session_window",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
             epoch_ns(ts) // 1000 AS tus
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n, {dsum_sql("value")} AS sum_v
    FROM sessions
    GROUP BY user_id, sid
    """,
    category="time_window",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) — Spark's SessionWindow merge,
    oracle reproduces it with gaps-and-islands SQL."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_v"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n",
            "sum_v",
        )
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    category="scalar_fn",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column extraction (get_json_object)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


@register(
    "q_time_bucket_gap_fill",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)) AS d,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM buckets),
    cal AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
    )
    SELECT strftime(cal.d, '%Y-%m-%d') AS day, COALESCE(buckets.n, 0) AS n
    FROM cal LEFT JOIN buckets ON cal.d = buckets.d
    """,
    category="time_window",
)
def q_time_bucket_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (gap-fill): generate the full day range
    via sequence() and left-join observed daily counts."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    return (
        cal.join(daily, "d", "left")
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), F.coalesce("n", F.lit(0)).alias("n"))
    )


@register(
    "q_interpolate_linear",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
             {davg_sql("value")} AS v
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM obs GROUP BY 1),
    cal AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM b
    ),
    j AS (
      SELECT c.event_type, c.h, o.v
      FROM cal c LEFT JOIN obs o USING (event_type, h)
    ),
    w AS (
      SELECT event_type, h, v,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
        first_value(v IGNORE NULLS) OVER wn AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
      FROM j
      WINDOW
        wp AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           FLOOR((CASE
             WHEN v IS NOT NULL THEN v
             WHEN ph IS NULL THEN nv
             WHEN nh IS NULL THEN pv
             ELSE pv + (nv - pv) * (epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph))
           END) * 10000 + 0.5) / 10000 AS v
    FROM w
    """,
    category="time_window",
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with linear interpolation: hourly mean
    value per event_type on a densified calendar; missing hours take
    the straight line between their observed neighbors (edges clamp
    to the nearest observation). Interp inputs are exact-decimal
    means, so both engines interpolate identical numbers. The
    classic sensor/metric regularization step before sequence
    modeling."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    obs = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        davg("value").alias("v")
    )
    b = obs.groupBy("event_type").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    cal = b.select(
        "event_type", F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    j = cal.join(obs, ["event_type", "h"], "left")
    wp = W.partitionBy("event_type").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("event_type").orderBy("h").rowsBetween(0, W.unboundedFollowing)
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    pv = F.last("v", ignorenulls=True).over(wp)
    ph = F.last(obs_h, ignorenulls=True).over(wp)
    nv = F.first("v", ignorenulls=True).over(wn)
    nh = F.first(obs_h, ignorenulls=True).over(wn)
    # ((nv-pv) * Δt) / Δspan — the SAME operation order as the oracle
    # SQL; (nv-pv) * (Δt/Δspan) differs in the last ulp and can flip
    # the 1e-4 rounding boundary (observed at sf0.001)
    num = F.unix_timestamp(F.col("h")) - F.unix_timestamp(ph)
    den = F.unix_timestamp(nh) - F.unix_timestamp(ph)
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(ph.isNull(), nv)
        .when(nh.isNull(), pv)
        .otherwise(pv + ((nv - pv) * num) / den)
    )
    return j.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        rnd(filled, 4).alias("v"),
    )


@register(
    "q_rollup_cascade",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           {dsum_sql("value")} AS sum_v,
           FLOOR((MAX(value)) * 10000 + 0.5) / 10000 AS max_v,
           COUNT(DISTINCT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS n_hours
    FROM events GROUP BY 1, 2
    """,
    category="time_window",
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: minute → hour → day, each
    tier re-aggregating the tier below (counts sum, sums sum, maxes
    max) — the continuous-aggregate discipline where a day of data is
    86k× smaller by the second rollup. The oracle computes the day
    tier DIRECTLY from raw events, so the query proves cascade
    consistency: re-aggregation loses nothing. Decimal sums stay
    unrounded between tiers (exact, associative — functions/exact.py);
    only the day-tier output rounds. At 100 TB the raw shuffle
    happens once (minute tier, map-side combined); every later tier
    shuffles only aggregate rows."""
    e = load(spark, sf_dir, "events")
    minute = e.groupBy(F.window("ts", "1 minute").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
        F.max("value").alias("mx"),
    )
    hour = minute.groupBy(
        F.window(F.col("w.start"), "1 hour").alias("w"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"), F.max("mx").alias("mx"))
    day = hour.groupBy(
        F.window(F.col("w.start"), "1 day").alias("w"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.max("mx").alias("mx"),
        # hour rows are unique per (window, event_type) by construction,
        # so distinct-hour count is a plain count — no Expand shuffle
        F.count(F.lit(1)).alias("n_hours"),
    )
    return day.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        rnd(F.col("s").cast("double"), 4).alias("sum_v"),
        rnd("mx", 4).alias("max_v"),
        "n_hours",
    )


@register(
    "q_materialized_rollup",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           {dsum_sql("value")} AS sum_v
    FROM events GROUP BY 1, 2
    """,
    category="time_window",
)
def q_materialized_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED continuous aggregate: the hourly tier is materialized as
    a nimble table (partitioned by event_type, decimal sums carried
    unrounded as DECIMAL storage), and the day tier re-aggregates the
    STORED rollup — proving the materialize → re-aggregate cycle
    loses nothing vs computing days from raw (the oracle). This is
    the serving pattern for time-series dashboards at 100 TB: raw
    events aggregate once into an hourly table 3-4 orders of
    magnitude smaller; every coarser query reads the rollup, never
    the raw data."""
    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.sources.table import WriteOptions, read_table, write_table

    def _build(tmp: str) -> None:
        e = load(spark, sf_dir, "events")
        hourly = e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
        )
        flat = hourly.select(
            F.col("w.start").alias("hour_start"), "event_type", "n", "s"
        )
        write_table(flat, tmp, WriteOptions(partition_by=["event_type"]))

    path = ensure_cached(sf_dir, "events__hourly_rollup", ["events"], _build)
    stored = read_table(spark, path)
    day = stored.groupBy(
        F.window(F.col("hour_start"), "1 day").alias("w"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    return day.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        rnd(F.col("s").cast("double"), 4).alias("sum_v"),
    )


# ---------------------------------------------------------------------------
# Event-analytics surface: OHLC bars, ordered funnel, retention cohorts
# ---------------------------------------------------------------------------


@register(
    "q_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT date_trunc('day', ts) AS d, value,
             row_number() OVER (PARTITION BY date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           COUNT(*) AS n,
           MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
           FLOOR((MAX(value)) * 10000 + 0.5) / 10000 AS high,
           FLOOR((MIN(value)) * 10000 + 0.5) / 10000 AS low,
           MIN(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM r GROUP BY d
    """,
    category="time_window",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open-high-low-close) bars over the event value
    stream — the downsampling shape every time-series store serves.
    Open/close are the first/last values in strict (ts, event_id)
    order (deterministic tie-break); high/low are plain MIN/MAX with
    map-side partials. Scale: the two row_number windows share one
    Exchange(day) with the final aggregation — one shuffle total, and
    at 100 TB `day` is also the partition key so the window sort is
    partition-local."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"), "ts", "event_id", "value"
    )
    wa = W.partitionBy("d").orderBy("ts", "event_id")
    wd = W.partitionBy("d").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    r = e.select(
        "d",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return r.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        rnd(F.max("value"), 4).alias("high"),
        rnd(F.min("value"), 4).alias("low"),
        F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
    ).select(F.date_format("d", "yyyy-MM-dd").alias("day"), "n", "open", "high", "low", "close")


@register(
    "q_funnel_steps",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN v.t1 IS NOT NULL THEN 1 ELSE 0 END AS did_view,
           CASE WHEN c.t2 IS NOT NULL THEN 1 ELSE 0 END AS did_click,
           CASE WHEN p.t3 IS NOT NULL THEN 1 ELSE 0 END AS did_purchase
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v ON v.user_id = u.user_id
    LEFT JOIN c ON c.user_id = u.user_id
    LEFT JOIN p ON p.user_id = u.user_id
    """,
    category="time_window",
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, each step
    STRICTLY after the previous step's first occurrence) — the
    product-analytics operator behind every conversion dashboard.
    Three stage aggregations, each a (user_id) groupBy joined to the
    previous stage; all joins are key-equi on user_id so at scale the
    stages reuse one hash partitioning, and each stage's input is
    filtered to a single event type at the scan (predicate pushed)."""
    e = load(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .alias("e")
        .join(v.alias("v"), "user_id")
        .filter(F.col("e.ts") > F.col("v.t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .alias("e")
        .join(c.alias("c"), "user_id")
        .filter(F.col("e.ts") > F.col("c.t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("did_view"),
            F.when(F.col("t2").isNotNull(), 1).otherwise(0).alias("did_click"),
            F.when(F.col("t3").isNotNull(), 1).otherwise(0).alias("did_purchase"),
        )
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort, a.d) AS BIGINT) AS day_offset,
           COUNT(*) AS n_active
    FROM a JOIN f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    category="time_window",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle: users grouped by first-activity day,
    counted on each later active day as an offset from their cohort —
    the other half of the product-analytics pair with q_funnel_steps.
    Two (user_id) aggregations sharing one hash partitioning, then a
    small (cohort, offset) rollup; no row ever carries more than
    (user_id, two dates)."""
    e = load(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    a = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "q_incremental_rollup_refresh",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n,
           {dsum_sql("value")} AS sum_v
    FROM events GROUP BY 1, 2
    """,
    category="time_window",
)
def q_incremental_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized-view maintenance: the base events
    table lands as two commits (first 20 days, then the rest); the
    hourly rollup is built from commit 0 and then REFRESHED from the
    change feed only — ``read_changes(since_commit=0)`` reads exactly
    the delta files (O(changed data), never O(table)), the delta
    aggregates locally, and the refresh is a partial-aggregate merge
    (sum of counts, sum of exact decimal sums) unioned with the
    stored rollup. The oracle is the FULL recompute over all events:
    incremental maintenance must be indistinguishable from rebuild —
    the invariant that lets a 100 TB dashboard tier refresh from each
    day's ingest without ever rescanning history. Counts and decimal
    sums are associative, so the merge is exact by construction."""
    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.sources.table import (
        WriteOptions,
        read_changes,
        read_table,
        write_table,
    )

    def _hourly(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
            )
            .select(F.col("w.start").alias("hour_start"), "event_type", "n", "s")
        )

    def _build(tmp: str) -> None:
        import os

        e = load(spark, sf_dir, "events").select("ts", "event_type", "value")
        base_path = f"{tmp}/base"
        rollup_path = f"{tmp}/rollup"
        os.makedirs(tmp, exist_ok=True)
        # Base table: two commits.
        write_table(e.filter(F.col("ts") < "2024-01-21"), base_path, WriteOptions())
        write_table(
            e.filter(F.col("ts") >= "2024-01-21"), base_path, WriteOptions(), mode="append"
        )
        # Rollup v0 from commit 0 only.
        snap0 = read_table(spark, base_path, as_of_commit=0)
        write_table(_hourly(snap0), rollup_path, WriteOptions())
        # Refresh: aggregate ONLY the change feed, merge by key.
        delta = _hourly(read_changes(spark, base_path, since_commit=0))
        stored = read_table(spark, rollup_path)
        refreshed = (
            stored.unionByName(delta)
            .groupBy("hour_start", "event_type")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        write_table(refreshed, rollup_path + "_v1", WriteOptions())

    path = ensure_cached(sf_dir, "events__incr_rollup", ["events"], _build)
    final = read_table(spark, f"{path}/rollup_v1")
    return final.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        rnd(F.col("s").cast("double"), 4).alias("sum_v"),
    )


@register(
    "q_sequence_ngrams",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS trigram
      FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    ),
    c AS (SELECT trigram, COUNT(*) AS n FROM tri GROUP BY trigram),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    r AS (
      SELECT trigram, n, row_number() OVER (ORDER BY n DESC, trigram) AS rk
      FROM c
    )
    SELECT r.trigram, CAST(r.n AS BIGINT) AS n, r.rk,
           FLOOR((CAST(r.n AS DOUBLE) / t.total) * 1000000 + 0.5) / 1000000 AS share
    FROM r CROSS JOIN t WHERE r.rk <= 20
    """,
    category="time_window",
)
def q_sequence_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the 20 most frequent per-user
    event-type TRIGRAMS in strict (ts, event_id) order — the pattern
    inventory behind funnel discovery and session modeling (which
    3-step paths actually happen, before you pick one to funnel).
    One window partitioned by user_id (two LEADs ride the same sort),
    then a partial-agged count and a driver-size top-20; no global
    event sort anywhere."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    c = o.groupBy(
        F.concat_ws(">", "event_type", "e2", "e3").alias("trigram")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    r = c.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "trigram"))
    ).filter(F.col("rk") <= 20)
    return r.crossJoin(t).select(
        "trigram",
        "n",
        "rk",
        rnd(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


@register(
    "q_anomaly_windows",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    season AS (
      SELECT CAST(EXTRACT(hour FROM h) AS BIGINT) AS hod,
             COUNT(*) AS k,
             CAST(SUM(CAST(CAST(n AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS sxx
      FROM hourly GROUP BY 1
    ),
    z AS (
      SELECT hourly.h, hourly.n, season.hod,
             (CAST(hourly.n AS DOUBLE) - season.sx / season.k)
               / sqrt(season.sxx / season.k - (season.sx / season.k) * (season.sx / season.k)) AS zscore
      FROM hourly JOIN season ON season.hod = CAST(EXTRACT(hour FROM hourly.h) AS BIGINT)
      WHERE season.k >= 10
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, CAST(n AS BIGINT) AS n, hod,
           {rnd_sql("zscore")} AS zscore
    FROM z WHERE abs(zscore) > 2.5
    """,
    category="time_window",
)
def q_anomaly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted volume anomalies: hours whose event count
    deviates more than 2.5σ from the mean of THE SAME HOUR-OF-DAY —
    the monitoring query that catches a quiet 3 a.m. spike a global
    threshold never sees (3 a.m. is always below the global mean).
    Hourly rollup (partial-agged), 24-row seasonal baseline with
    exact decimal moments, broadcast back — the same one-shuffle
    moments-join-z shape as q_value_outliers, applied over time
    instead of entities."""
    from pyspark.sql import Window as W  # noqa: F401  (symmetry with siblings)

    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    nd = F.col("n").cast("double")
    season = (
        hourly.groupBy(F.hour("h").cast("long").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(nd.cast("decimal(27,6)")).cast("double").alias("sx"),
            F.sum((nd * nd).cast("decimal(27,6)")).cast("double").alias("sxx"),
        )
        .filter(F.col("k") >= 10)
    )
    mean = F.col("sx") / F.col("k")
    std = F.sqrt(F.col("sxx") / F.col("k") - mean * mean)
    z = (F.col("n").cast("double") - mean) / std
    return (
        hourly.withColumn("hod", F.hour("h").cast("long"))
        .join(season, "hod")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "hod",
            z.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.5)
        .select("hour", "n", "hod", rnd("zscore", 4).alias("zscore"))
    )


@register(
    "q_time_weighted_avg",
    oracle=f"""
    WITH o AS (
      SELECT user_id, value, ts,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    w AS (
      SELECT user_id, value,
             CAST(date_diff('second', ts, nxt) AS BIGINT) AS held_s
      FROM o WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(held_s) AS BIGINT) AS total_s,
           {rnd_sql(
               "CAST(SUM(CAST(value * held_s AS DECIMAL(27,6))) AS DOUBLE)"
               " / SUM(held_s)"
           )} AS twap
    FROM w GROUP BY user_id HAVING SUM(held_s) > 0
    """,
    category="time_window",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per entity: each observation is
    weighted by how long it was the latest value (seconds until the
    next event, via LEAD in strict order) — the correct average for
    irregularly-sampled state, where the plain mean over-weights busy
    periods. Integer second weights keep the products exact through
    the decimal sum; one window and the aggregation share the user_id
    partitioning."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        "value",
        (F.unix_timestamp(F.lead("ts", 1).over(w)) - F.unix_timestamp("ts")).alias(
            "held_s"
        ),
    ).filter(F.col("held_s").isNotNull())
    return (
        o.groupBy("user_id")
        .agg(
            F.sum("held_s").cast("long").alias("total_s"),
            rnd(
                F.sum((F.col("value") * F.col("held_s")).cast("decimal(27,6)")).cast(
                    "double"
                )
                / F.sum("held_s"),
                4,
            ).alias("twap"),
        )
        .filter(F.col("total_s") > 0)
    )


@register(
    "q_rfm_features",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS now FROM events),
    base AS (
      SELECT e.user_id,
             CAST(date_diff('day', MAX(e.ts), ANY_VALUE(mx.now)) AS BIGINT) AS recency_d,
             COUNT(*) AS frequency,
             {dsum_sql("e.value")} AS monetary
      FROM events e CROSS JOIN mx
      GROUP BY e.user_id
    )
    SELECT user_id, recency_d, CAST(frequency AS BIGINT) AS frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_d ASC, user_id) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_score
    FROM base
    """,
    category="time_window",
)
def q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM feature engineering: per entity recency (days since last
    activity, anchored to the corpus max so the feature is
    reproducible), frequency, exact-decimal monetary sum, and the
    classic 1–5 quintile scores (deterministic tie-breaks) — the
    behavioral feature vector behind churn/LTV models and the
    standard segmentation input. One groupBy over events; the three
    ntiles run over the TINY per-user table, and at 100 TB the
    quintile boundaries come from approx_percentile instead of a
    global sort (documented divergence, same as q_percentiles)."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("now"))
    base = (
        e.crossJoin(mx)
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("now"), F.max("ts")).cast("long").alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("value").alias("monetary"),
        )
    )
    return base.select(
        "user_id",
        "recency_d",
        "frequency",
        "monetary",
        F.ntile(5).over(W.orderBy(F.asc("recency_d"), "user_id")).cast("long").alias("r_score"),
        F.ntile(5).over(W.orderBy(F.desc("frequency"), "user_id")).cast("long").alias("f_score"),
        F.ntile(5).over(W.orderBy(F.desc("monetary"), "user_id")).cast("long").alias("m_score"),
    )


@register(
    "q_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    c AS (
      SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
      FROM o WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ),
    rowsum AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY src)
    SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
           FLOOR((CAST(c.n AS DOUBLE) / r.row_n) * 1000000 + 0.5) / 1000000 AS p
    FROM c JOIN rowsum r ON r.src = c.src
    """,
    category="time_window",
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov matrix: per-user consecutive
    event-type transitions (strict order) counted and row-normalized
    into transition probabilities — the model behind next-action
    prediction and the bigram base of q_sequence_ngrams' trigrams.
    One user window, then metadata-size aggregations (|types|² rows)."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = o.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    rowsum = c.groupBy("src").agg(F.sum("n").alias("row_n"))
    return c.join(rowsum, "src").select(
        "src", "dst", "n", rnd(F.col("n").cast("double") / F.col("row_n"), 6).alias("p")
    )


@register(
    "q_funnel_latency",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    lat AS (
      SELECT CAST(date_diff('second', v.t1, p.t2) AS BIGINT) AS s
      FROM v JOIN p ON p.user_id = v.user_id
    )
    SELECT COUNT(*) AS n_converted,
           {rnd_sql("quantile_cont(s, 0.5)")} AS p50_s,
           {rnd_sql("quantile_cont(s, 0.9)")} AS p90_s,
           CAST(MIN(s) AS BIGINT) AS min_s, CAST(MAX(s) AS BIGINT) AS max_s
    FROM lat
    """,
    category="time_window",
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency distribution: seconds from first view to
    first subsequent purchase per converting user, summarized as
    count / p50 / p90 / extremes — the metric that turns
    q_funnel_steps' WHO into HOW FAST (integer second latencies keep
    every percentile input exact). Two first-occurrence aggregations
    on one user_id partitioning feed a tiny percentile over the
    converted set."""
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .alias("e")
        .join(v.alias("v"), "user_id")
        .filter(F.col("e.ts") > F.col("v.t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    lat = v.join(p, "user_id").select(
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")).alias("s")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        rnd(F.expr("percentile(s, 0.5)"), 4).alias("p50_s"),
        rnd(F.expr("percentile(s, 0.9)"), 4).alias("p90_s"),
        F.min("s").cast("long").alias("min_s"),
        F.max("s").cast("long").alias("max_s"),
    )


@register(
    "q_gap_stats",
    oracle=f"""
    WITH o AS (
      SELECT event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prv
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(date_diff('second', prv, ts) AS BIGINT) AS gap_s
      FROM o WHERE prv IS NOT NULL
    )
    SELECT event_type, COUNT(*) AS n_gaps,
           {rnd_sql("quantile_cont(gap_s, 0.5)")} AS p50_s,
           {rnd_sql("quantile_cont(gap_s, 0.9)")} AS p90_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_s
    FROM g GROUP BY event_type
    """,
    category="time_window",
)
def q_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type (within each
    user's own stream): the measurement that picks a session gap
    threshold (q_sessionize's 30 minutes should sit in this
    distribution's tail, not its body) and sizes streaming watermarks.
    Integer second gaps keep percentile inputs exact; one (user,
    type) window then a per-type rollup."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        rnd(F.expr("percentile(gap_s, 0.5)"), 4).alias("p50_s"),
        rnd(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_s"),
        F.max("gap_s").cast("long").alias("max_s"),
    )
