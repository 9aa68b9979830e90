"""The remaining TPC-H query shapes (Q2,Q7-Q13,Q15-Q17,Q19-Q22),
adapted to the driver's reduced schema (no partsupp table — the
lineitem (l_partkey, l_suppkey) relation stands in for it; no
commit/receipt dates — lateness = shipdate > orderdate + 30 days).

These complete the §2.6 relational conformance surface (SURVEY.md
§2.6: joins/aggregations are Velox-side in the reference — the
boundary is dwio/nimble/docs/develop/nimble_selective_reader.rst:31-62
— and built-in in Spark; these queries exercise that declared surface
over the same tables the reference-style connector serves).

Scale posture (100 TB): no join is placed by hand. The planner
broadcasts each side whose size estimate is under the session's
autoBroadcastJoinThreshold (the dims supplier=100·sf, nation=25,
region=5 and part=2000·sf rows, and the 1-row scalar subqueries Q11
total, Q15 max, Q22 avg) and shuffles a side that outgrows it;
lineitem/orders carry the only wide shuffles, always on their
join/group keys. All float aggregates go through DECIMAL(27,6) so
results are bit-identical to the DuckDB oracle regardless of
partitioning (functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import DEC, dsum, dsum_sql, rnd, rnd_sql
from nimble_spark.registry import register
from nimble_spark.tables import load


def _rev(pre: str = "l_") -> F.Column:
    return (F.col(f"{pre}extendedprice") * (1 - F.col(f"{pre}discount"))).cast(DEC)


_REV_SQL = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))"


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
      FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    pc AS (SELECT * FROM ps JOIN eur ON l_suppkey = s_suppkey),
    m AS (SELECT l_partkey, MIN(cost) AS min_cost FROM pc GROUP BY 1)
    SELECT s_name, n_name, p_partkey AS part_key, p_name,
           {rnd_sql("cost")} AS cost, {rnd_sql("s_acctbal")} AS acctbal
    FROM pc JOIN m USING (l_partkey) JOIN part ON l_partkey = p_partkey
    WHERE cost = min_cost AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
    """,
    category="join",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery → per-part min-cost
    European supplier. The part-supplier relation is derived from
    lineitem (no partsupp in this corpus); cost = MIN(extendedprice)
    is a pure double MIN so the equality join is exact. supplier/
    nation/region/part and the per-part min table all broadcast; the
    only wide shuffle is the (partkey, suppkey) partial agg."""
    l = load(spark, sf_dir, "lineitem")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(F.min("l_extendedprice").alias("cost"))
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pc = ps.join(eur, ps.l_suppkey == eur.s_suppkey)
    m = pc.groupBy("l_partkey").agg(F.min("cost").alias("min_cost")).withColumnRenamed("l_partkey", "m_partkey")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    )
    return (
        # m is one row per part, but its estimate is the pc join's size
        pc.join(F.broadcast(m), (pc.l_partkey == m.m_partkey) & (pc.cost == m.min_cost))
        .join(p, pc.l_partkey == p.p_partkey)
        .select(
            "s_name",
            "n_name",
            F.col("p_partkey").alias("part_key"),
            "p_name",
            rnd("cost").alias("cost"),
            rnd("s_acctbal").alias("acctbal"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
    category="join",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipped between two nations per year. Both
    nation-tagged dims (supplier, customer) broadcast; the orders join
    is the one wide shuffle. The symmetric OR predicate stays a single
    join pass (no union of two plans needed)."""
    n = load(spark, sf_dir, "nation")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    df = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # cust is one row per customer; its estimate is the customer x nation product
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(supp, l.l_suppkey == supp.s_suppkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return df.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(dsum(_rev()).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))


@register(
    "q8_market_share",
    oracle=f"""
    WITH v AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             {_REV_SQL} AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           {rnd_sql(
               "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume "
               "ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE) / CAST(SUM(volume) AS DOUBLE)"
           )} AS mkt_share,
           COUNT(*) AS n_lines
    FROM v GROUP BY o_year
    """,
    category="join",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: market share of one supplier nation inside a consumer
    region, per order year. Five dims broadcast; numerator and
    denominator ride one partial agg (exact decimals until the final
    division)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = (
        load(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = load(spark, sf_dir, "lineitem")
    v = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        # cust is one region's customers; its estimate is the customer x nation x region product
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(supp, l.l_suppkey == supp.s_suppkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast(DEC)
    )
    return v.groupBy("o_year").agg(
        rnd(F.sum(nation_vol).cast("double") / F.sum("volume").cast("double")).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT sn.n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           {dsum_sql("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity")} AS profit,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    category="join",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and
    year. p_retailprice stands in for ps_supplycost (no partsupp).
    Per-row profit is IEEE-identical on both engines; the sum is
    decimal-exact. part/supplier/nation broadcast; orders joins on
    the shuffled orderkey."""
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    n = load(spark, sf_dir, "nation")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(supp, l.l_suppkey == supp.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(profit).alias("profit"), F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           {rnd_sql("c_acctbal")} AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    category="join",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue in a
    quarter. Revenue is decimal-exact so the DESC order (tie-broken on
    custkey) selects the identical top-20 set on both engines. At
    100 TB this is TakeOrderedAndProject — no global sort."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev()).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue", rnd("c_acctbal").alias("acctbal"), "n_name"
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH f AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS v
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 5)
      GROUP BY 1
    )
    SELECT l_partkey AS part_key,
           FLOOR((CAST(v AS DOUBLE)) * 10000 + 0.5) / 10000 AS part_value
    FROM f
    WHERE CAST(v AS DOUBLE) > (SELECT CAST(SUM(v) AS DOUBLE) FROM f) * 0.002
    """,
    category="aggregation",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose value (for one nation's suppliers)
    exceeds a fraction of the total — a HAVING against a scalar
    subquery. The lineitem value relation stands in for partsupp. The
    total is a 1-row broadcast; threshold comparison happens on
    identical doubles derived from exact decimal sums."""
    s5 = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 5)
        .select("s_suppkey")
    )
    l = load(spark, sf_dir, "lineitem")
    f = (
        l.join(s5, l.l_suppkey == s5.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("v"))
    )
    total = f.agg((F.sum("v").cast("double") * 0.002).alias("threshold"))
    return (
        f.join(total)
        .filter(F.col("v").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("part_key"),
            rnd(F.col("v").cast("double")).alias("part_value"),
        )
    )


@register(
    "q12_late_shipments",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    category="join",
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of late shipments (lateness =
    shipped >30 days after order; this corpus has no commit/receipt
    dates, and l_linestatus stands in for shipmode). The join
    condition includes the non-equi lateness predicate — evaluated
    post-probe on the equi-joined pairs, so it's still a hash join."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    category="join",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer — LEFT
    OUTER join with a predicate inside the join condition (so
    customers with only '5-LOW' orders still appear with count 0),
    then a second aggregation over the histogram."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
        "left",
    )
    counts = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {dsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    category="aggregation",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum half-year revenue —
    view + scalar MAX subquery. Revenue is rounded from exact decimal
    sums, so the MAX-equality selects the same supplier set on both
    engines. The max is a 1-row broadcast."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    rev = l.groupBy("l_suppkey").agg(dsum(_rev()).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(mx)
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    category="join",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per brand/size,
    excluding an unwanted supplier set (NOT IN → broadcast anti-join;
    negative acctbal stands in for the complaints LIKE filter).
    lineitem provides the part-supplier pairs; count-distinct expands
    to a two-phase agg on (brand, size, suppkey)."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_size")
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY 1
    )
    SELECT {rnd_sql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0")}
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN pa ON pk = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * avg_qty
    """,
    category="aggregation",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders — a correlated
    per-part AVG threshold. Quantities are integer-valued doubles, so
    the AVG is exact on both engines regardless of summation order.
    The per-part averages table is small (≤ #parts rows) → broadcast."""
    l = load(spark, sf_dir, "lineitem")
    pa = l.groupBy(F.col("l_partkey").alias("pk")).agg(F.avg("l_quantity").alias("avg_qty"))
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(pa, l.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            rnd(F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 15 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 25 AND 50)
    """,
    category="join",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of brand/size/quantity conjuncts across
    the join. Catalyst extracts the common l_quantity bounds and the
    part-side (brand, size) disjunction below the join, so both scans
    prune before the broadcast hash join."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = load(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(15, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(25, 50)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(_rev()).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "q20_promo_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 50
      )
    """,
    category="join",
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in a region who moved > threshold
    quantity of 'red' parts in a year — IN over a grouped HAVING
    (availqty stands replaced by shipped quantity; no partsupp). The
    HAVING keyset is small → broadcast semi join against the
    region-filtered supplier dim."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    keys = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
    )
    # keys is a distinct supplier set, but its estimate is the lineitem join's size
    return s.join(F.broadcast(keys), s.s_suppkey == keys.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE r_name = 'ASIA' AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    """,
    category="join",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *sole* returning
    supplier on multi-supplier finalized orders (returnflag marks the
    fault; this corpus has no receipt/commit dates). EXISTS → semi
    join, NOT EXISTS → anti join, both equi on orderkey with the
    supplier-inequality as residual condition — the classic
    two-correlated-subquery plan."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = (
        load(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l = load(spark, sf_dir, "lineitem")
    l1 = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey, "left_semi")
    )
    l2 = l.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        l.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    return (
        l1.join(l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi")
        .join(l3, (l1.l_orderkey == l3.o3) & (l1.l_suppkey != l3.s3), "left_anti")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q22_dormant_customers",
    oracle=f"""
    SELECT n_name, COUNT(*) AS numcust, {dsum_sql("c_acctbal")} AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    """,
    category="join",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers who never placed an
    urgent order — scalar AVG subquery (exact decimal mean, 1-row
    broadcast) + anti join against the filtered orders (nation stands
    in for the phone country code; every customer in this corpus has
    *some* order, so the canonical no-orders predicate would be
    vacuous). The anti join shuffles only the distinct custkey set."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    avg_pos = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(avg_pos)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
    )
