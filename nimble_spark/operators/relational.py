"""Relational operator surface: scans, filters, aggregations, joins,
set ops, scalar functions — SURVEY.md §2.6.

The reference (facebookincubator/nimble) is a columnar format; its
query surface is the engine above it (Velox). In this build that
engine is Spark itself: every query here is declared with the
DataFrame API so Catalyst plans pushdown/pruning/join strategy
(see dwio/nimble/docs/develop/nimble_selective_reader.rst:21-62 for
the reference's pushdown surface these queries exercise).

Oracle-comparison rules (see registry.py): doubles rounded to 4
decimals on both sides, dates emitted as 'yyyy-MM-dd' strings,
aggregate columns aliased identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import davg, davg_sql, dsum, dsum_sql, rnd
from nimble_spark.registry import register
from nimble_spark.tables import load

R4 = 4  # rounding scale for double aggregates


# ---------------------------------------------------------------------------
# Aggregation (hash agg, partial+final via Spark physical planning)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql("l_quantity")}                                        AS sum_qty,
           {dsum_sql("l_extendedprice")}                                   AS sum_base_price,
           {dsum_sql("l_extendedprice * (1 - l_discount)")}                AS sum_disc_price,
           {dsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}  AS sum_charge,
           {davg_sql("l_quantity")}                                        AS avg_qty,
           {davg_sql("l_extendedprice")}                                   AS avg_price,
           {davg_sql("l_discount")}                                        AS avg_disc,
           COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    category="aggregation",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan groupBy aggregation with filter pushdown.

    Scale notes: map-side partial aggregation on 2 low-cardinality keys
    means the shuffle moves only |groups|×|partitions| rows; the
    l_shipdate predicate reaches the parquet scan (PushedFilters).
    """
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey)  AS ndv_part,
           COUNT(DISTINCT l_suppkey)  AS ndv_supp,
           COUNT(*)                   AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="aggregation",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase distinct agg in Spark)."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("ndv_part"),
        F.countDistinct("l_suppkey").alias("ndv_supp"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>')  AS returnflag,
           COALESCE(l_linestatus, '<all>')  AS linestatus,
           FLOOR((SUM(l_quantity)) * 10000 + 0.5) / 10000        AS sum_qty,
           COUNT(*)                         AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category="aggregation",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (Expand operator in Spark)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(rnd(F.sum("l_quantity"), 4).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "q_grouping_id",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category="aggregation",
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id() parity across the CUBE lattice: the bitmask that
    tells subtotal rows from data rows (bit per grouping column, in
    declaration order) must agree with the SQL GROUPING() bits —
    the disambiguation every OLAP consumer of cube output relies
    on."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            F.col("gid").cast("long").alias("gid"),
            "n",
        )
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), '<all>') AS yr,
           COALESCE(o_orderpriority, '<all>')                                 AS pri,
           {dsum_sql("o_totalprice")}                                         AS sum_price,
           COUNT(*)                                                           AS n
    FROM orders
    GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate), o_orderpriority)
    """,
    category="aggregation",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation."""
    o = load(spark, sf_dir, "orders").withColumn("yr_i", F.year("o_orderdate"))
    return (
        o.rollup("yr_i", "o_orderpriority")
        .agg(dsum("o_totalprice").alias("sum_price"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("yr_i").cast("string"), F.lit("<all>")).alias("yr"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("pri"),
            "sum_price",
            "n",
        )
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT COALESCE(c_mktsegment, '<all>')          AS segment,
           COALESCE(CAST(c_nationkey AS VARCHAR), '<all>') AS nation,
           {dsum_sql("c_acctbal")}                  AS sum_bal,
           COUNT(*)                                 AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    category="aggregation",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("ns_customer")
    return spark.sql(f"""
        SELECT COALESCE(c_mktsegment, '<all>')                 AS segment,
               COALESCE(CAST(c_nationkey AS STRING), '<all>')  AS nation,
               {dsum_sql("c_acctbal")}                         AS sum_bal,
               COUNT(*)                                        AS n
        FROM ns_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """)


@register(
    "q_having",
    oracle="""
    SELECT l_partkey, COUNT(*) AS n, FLOOR((SUM(l_quantity)) * 10000 + 0.5) / 10000 AS qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(*) >= 5 AND SUM(l_quantity) > 100
    """,
    category="aggregation",
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty_raw"))
        .filter((F.col("n") >= 5) & (F.col("qty_raw") > 100))
        .select("l_partkey", "n", rnd("qty_raw", 4).alias("qty"))
    )


@register(
    "q_case_agg",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           {dsum_sql("CASE WHEN o_totalprice > 100000 THEN o_totalprice ELSE 0 END")} AS big_rev
    FROM orders
    GROUP BY o_orderpriority
    """,
    category="aggregation",
)
def q_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (pivot-style) aggregation with CASE WHEN."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        dsum(F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice")).otherwise(0.0)).alias("big_rev"),
    )


@register(
    "q_stats_summary",
    oracle=f"""
    SELECT 'l_quantity' AS col,
           FLOOR((MIN(l_quantity)) * 10000 + 0.5) / 10000 AS min_v, FLOOR((MAX(l_quantity)) * 10000 + 0.5) / 10000 AS max_v,
           {davg_sql("l_quantity")} AS avg_v,
           COUNT(*) AS n, COUNT(l_quantity) AS n_nonnull
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           FLOOR((MIN(l_extendedprice)) * 10000 + 0.5) / 10000, FLOOR((MAX(l_extendedprice)) * 10000 + 0.5) / 10000,
           {davg_sql("l_extendedprice")},
           COUNT(*), COUNT(l_extendedprice)
    FROM lineitem
    """,
    category="statistics",
)
def q_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics pass — the §2.5 writer-stats aggregations
    (valueCount/nullCount/min/max) expressed as one df.agg scan.
    Mirrors nimble's velox/stats/ColumnStatistics.h:59-185 surface."""
    l = load(spark, sf_dir, "lineitem")

    def stats(col: str):
        return l.agg(
            F.lit(col).alias("col"),
            rnd(F.min(col), 4).alias("min_v"),
            rnd(F.max(col), 4).alias("max_v"),
            davg(col).alias("avg_v"),
            F.count(F.lit(1)).alias("n"),
            F.count(col).alias("n_nonnull"),
        )

    return stats("l_quantity").unionAll(stats("l_extendedprice"))


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dsum_sql("l_extendedprice * (1 - l_discount)")}  AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    category="join",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective 3-way join + agg + top-k.

    Scale notes: customer is filtered, and the planner broadcasts it
    while its estimate is under the session threshold; lineitem (the
    100TB fact) is never shuffled before its filter. Top-k is
    TakeOrderedAndProject, not a global sort.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    oracle=f"""
    SELECT n_name, {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    category="join",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join over a dimension chain the planner
    broadcasts while each dim is under the session threshold."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q_join_outer",
    oracle=f"""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           COALESCE({dsum_sql("o_totalprice")}, 0) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    category="join",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with no orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT p_brand, COUNT(*) AS n
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    GROUP BY p_brand
    """,
    category="join",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS / IN-subquery)."""
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_semi").groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
    category="join",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers who never ordered."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_join_theta",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    category="join",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi conjunct) self-join: nation pairs per region."""
    a = load(spark, sf_dir, "nation").alias("a")
    b = load(spark, sf_dir, "nation").alias("b")
    return a.join(
        b, (F.col("a.n_regionkey") == F.col("b.n_regionkey")) & (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
    ).select(F.col("a.n_name").alias("n1"), F.col("b.n_name").alias("n2"))


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM region CROSS JOIN nation
    GROUP BY r_name
    """,
    category="join",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (tiny dims only — guarded by design)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).groupBy("r_name").agg(F.count(F.lit(1)).alias("n_nations"))


@register(
    "q_scalar_subquery",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > (SELECT {davg_sql("o_totalprice")} * 1.5 FROM orders)
    GROUP BY o_orderpriority
    """,
    category="join",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (Spark plans a subquery broadcast)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("ns_orders")
    return spark.sql(f"""
        SELECT o_orderpriority, COUNT(*) AS n
        FROM ns_orders
        WHERE o_totalprice > (SELECT {davg_sql("o_totalprice")} * 1.5 FROM ns_orders)
        GROUP BY o_orderpriority
    """)


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, FLOOR((o_totalprice) * 10000 + 0.5) / 10000 AS price, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    category="sort",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K: orderBy+limit → TakeOrderedAndProject (no global sort)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
        .select("o_orderkey", rnd("o_totalprice", 4).alias("price"), "o_orderpriority")
    )


@register(
    "q_sort_multi",
    oracle="""
    SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS shipdate
    FROM lineitem
    ORDER BY l_shipdate, l_orderkey DESC, l_linenumber
    LIMIT 100
    """,
    category="sort",
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed-direction sort with limit."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.orderBy("l_shipdate", F.desc("l_orderkey"), "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", F.date_format("l_shipdate", "yyyy-MM-dd").alias("shipdate"))
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "q_set_union",
    oracle="""
    SELECT k FROM (
      SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 49
      UNION
      SELECT p_partkey AS k FROM part WHERE p_size > 45
    ) t
    """,
    category="setop",
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49).select(F.col("l_partkey").alias("k"))
    p = load(spark, sf_dir, "part").filter(F.col("p_size") > 45).select(F.col("p_partkey").alias("k"))
    return l.union(p).distinct()


@register(
    "q_set_intersect",
    oracle="""
    SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 49
    INTERSECT
    SELECT p_partkey FROM part WHERE p_size > 45
    """,
    category="setop",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of two key sets."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49).select(F.col("l_partkey").alias("k"))
    p = load(spark, sf_dir, "part").filter(F.col("p_size") > 45).select(F.col("p_partkey").alias("k"))
    return l.intersect(p)


@register(
    "q_set_except",
    oracle="""
    SELECT p_partkey AS k FROM part WHERE p_size > 45
    EXCEPT
    SELECT l_partkey FROM lineitem WHERE l_quantity > 49
    """,
    category="setop",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_size") > 45).select(F.col("p_partkey").alias("k"))
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49).select(F.col("l_partkey").alias("k"))
    return p.exceptAll(l.distinct())


# ---------------------------------------------------------------------------
# Scalar functions (string / date / math / conditional)
# ---------------------------------------------------------------------------


@register(
    "q_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
           CAST(COALESCE(list_sum(list_transform(
                 regexp_extract_all(text, '[0-9]+'),
                 x -> CASE WHEN len(x) <= 9 THEN CAST(x AS BIGINT) ELSE 0 END)), 0)
                AS BIGINT) AS num_sum,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+ing')) AS BIGINT)
             AS n_ing_words
    FROM documents
    """,
    category="scalar_fn",
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all parity: pull every number and every
    '-ing' token out of each document and aggregate them — multi-match
    extraction is the scraping/cleaning workhorse, and the regex
    subset used ([0-9]+, [a-z]+ing) behaves identically in Java and
    RE2 dialects. Oversized digit runs are excluded from the sum on
    both engines (int64 guard)."""
    d = load(spark, sf_dir, "documents")
    nums = F.expr(r"regexp_extract_all(text, '[0-9]+')")
    num_sum = F.expr(
        r"aggregate(regexp_extract_all(text, '[0-9]+'), 0L,"
        r" (a, x) -> a + CASE WHEN length(x) <= 9 THEN CAST(x AS BIGINT) ELSE 0L END)"
    )
    ing = F.expr(r"regexp_extract_all(lower(text), '[a-z]+ing')")
    return d.select(
        "doc_id",
        F.size(nums).cast("long").alias("n_numbers"),
        num_sum.cast("long").alias("num_sum"),
        F.size(ing).cast("long").alias("n_ing_words"),
    )


@register(
    "q_scalar_fns",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand)                            AS brand_u,
           LOWER(p_type)                             AS type_l,
           SUBSTR(p_name, 1, 8)                      AS name8,
           LENGTH(p_name)                            AS name_len,
           CONCAT(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size,
           REPLACE(p_type, ' ', '_')                 AS type_us,
           ABS(p_size - 25)                          AS size_dist,
           MOD(p_partkey, 7)                         AS k7,
           FLOOR((SQRT(CAST(p_size AS DOUBLE))) * 10000 + 0.5) / 10000    AS size_sqrt,
           FLOOR((LN(p_retailprice)) * 10000 + 0.5) / 10000               AS price_ln,
           CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_bucket,
           CAST(CEIL(p_retailprice / 100) AS BIGINT)  AS price_bucket_hi,
           CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS is_green
    FROM part
    """,
    category="scalar_fn",
)
def q_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math/conditional function battery (all JVM-side)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
        F.regexp_replace("p_type", " ", "_").alias("type_us"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (F.col("p_partkey") % 7).alias("k7"),
        rnd(F.sqrt(F.col("p_size").cast("double")), 4).alias("size_sqrt"),
        rnd(F.log(F.col("p_retailprice")), 4).alias("price_ln"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
        F.ceil(F.col("p_retailprice") / 100).alias("price_bucket_hi"),
        F.when(F.col("p_size") < 10, "S").when(F.col("p_size") < 30, "M").otherwise("L").alias("size_class"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("is_green"),
    )


@register(
    "q_date_fns",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate)                       AS yr,
           EXTRACT(month FROM o_orderdate)                      AS mo,
           EXTRACT(day FROM o_orderdate)                        AS dy,
           EXTRACT(quarter FROM o_orderdate)                    AS qtr,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')  AS due_date,
           datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_95
    FROM orders
    WHERE o_orderkey < 1000
    """,
    category="scalar_fn",
)
def q_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery: extract, trunc, arithmetic, diff."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
    )


@register(
    "q_string_agg",
    oracle="""
    SELECT n_regionkey AS region, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
    category="aggregation",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (collect_list + sort_array for
    determinism under parallel collection)."""
    n = load(spark, sf_dir, "nation")
    return (
        n.groupBy(F.col("n_regionkey").alias("region"))
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
    )


@register(
    "q_set_except_all",
    oracle="""
    SELECT l_partkey AS k FROM lineitem WHERE l_quantity >= 48
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
    """,
    category="setop",
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (duplicates preserved by
    count), the bag semantics EXCEPT's dedup hides. One shuffle on the
    value; Spark plans it as a counted aggregate + generate."""
    l = load(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_quantity") >= 48).select(F.col("l_partkey").alias("k"))
    b = l.filter(F.col("l_quantity") >= 49).select(F.col("l_partkey").alias("k"))
    return a.exceptAll(b)


@register(
    "q_set_intersect_all",
    oracle="""
    SELECT l_partkey AS k FROM lineitem WHERE l_quantity >= 48
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_discount >= 0.05
    """,
    category="setop",
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection (min of the two
    multiplicities per value)."""
    l = load(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_quantity") >= 48).select(F.col("l_partkey").alias("k"))
    b = l.filter(F.col("l_discount") >= 0.05).select(F.col("l_partkey").alias("k"))
    return a.intersectAll(b)


@register(
    "q_upsert_scan",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, 'X' AS new_status,
             o_totalprice * 1.1 AS new_price
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    merged AS (
      SELECT o.o_orderkey,
             COALESCE(u.new_status, o.o_orderstatus) AS status,
             COALESCE(u.new_price, o.o_totalprice) AS price
      FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    )
    SELECT status, COUNT(*) AS n,
           FLOOR((CAST(SUM(CAST(price AS DECIMAL(27,6))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total
    FROM merged GROUP BY status
    """,
    category="format",
)
def q_upsert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-at-scan — the read-side MERGE the reference's
    append-only format defers to the engine (its write path has no
    updates; deletes arrive as scan-time Mutation masks,
    selective/SelectiveNimbleReader.cpp:334-338 — this is the update
    analogue): a small updates set overlays the base table via
    broadcast left join + coalesce, no rewrite. Contract mirrors the
    delete mask: |updates| ≪ table; compaction folds them in."""
    o = load(spark, sf_dir, "orders")
    updates = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("u_key"),
            F.lit("X").alias("new_status"),
            (F.col("o_totalprice") * 1.1).alias("new_price"),
        )
    )
    merged = o.join(updates, o.o_orderkey == F.col("u_key"), "left").select(
        F.coalesce("new_status", "o_orderstatus").alias("status"),
        F.coalesce("new_price", "o_totalprice").alias("price"),
    )
    return merged.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum(F.col("price").cast("decimal(27,6)")).cast("double")).alias("total"),
    )
