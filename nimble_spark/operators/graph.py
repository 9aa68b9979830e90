"""Iterative graph algorithms over relational data.

PageRank here is the representative of the iterate-until-converged
family (the other member, iterated min-label propagation, powers
q_dedup_clusters in dedup.py): the driver unrolls a fixed number of
rounds over lazy DataFrames, each round a join + aggregation — Spark's
native shape for bulk-synchronous iteration. No GraphX/JVM extension:
the graph IS two columns.

Exactness contract: a per-edge contribution rank/outdeg is a double
whose SUM over in-neighbors would be partition-order dependent, so
each contribution is quantized to a scaled int64 (floor(x·1e12+0.5))
and the sums are exact — every iteration produces bit-identical ranks
on any cluster size and in the DuckDB oracle (which unrolls the same
rounds in SQL).

Scale: edges shuffle once per round on dst (hash agg with map-side
combine); ranks are (node, double) pairs — at 100 TB of edges the
per-round cost is one shuffle of partial contribution sums, and the
rank table is broadcast-joinable when the node set is small relative
to edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import rnd, rnd_sql
from nimble_spark.registry import register
from nimble_spark.tables import load

_DAMP = 0.85
_ITERS = 3
_PR_SCALE = 10**12
_TOP = 20

# Bipartite customer↔supplier graph from the order flow, walked as an
# undirected random walk (both edge directions), so rank reflects
# trading centrality.
_EDGES_DUCK = """
      SELECT DISTINCT concat('c', CAST(o.o_custkey AS VARCHAR)) AS src,
             concat('s', CAST(l.l_suppkey AS VARCHAR)) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      UNION
      SELECT DISTINCT concat('s', CAST(l.l_suppkey AS VARCHAR)) AS src,
             concat('c', CAST(o.o_custkey AS VARCHAR)) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


def _pr_iter_duck(prev: str, out: str) -> str:
    return f"""
    {out}_s AS (
      SELECT e.dst AS node,
             SUM(CAST(FLOOR(p.rank / d.deg * {_PR_SCALE} + 0.5) AS BIGINT)) AS s
      FROM edges e
      JOIN {prev} p ON p.node = e.src
      JOIN outdeg d ON d.node = e.src
      GROUP BY e.dst
    ),
    {out} AS (
      SELECT n.node,
             (1 - {_DAMP}) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes)
             + {_DAMP} * (CAST(COALESCE(s.s, 0) AS DOUBLE) / {_PR_SCALE}) AS rank
      FROM nodes n LEFT JOIN {out}_s s ON s.node = n.node
    )"""


_PR_DUCK = f"""
    WITH edges AS ({_EDGES_DUCK}),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, 1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes) AS rank FROM nodes
    ),
    {_pr_iter_duck("r0", "r1")},
    {_pr_iter_duck("r1", "r2")},
    {_pr_iter_duck("r2", "r3")},
    ranked AS (
      SELECT node, rank,
             ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS rk
      FROM r3
    )
    SELECT node, rk, {rnd_sql("rank", 6)} AS rank
    FROM ranked WHERE rk <= {_TOP}
"""


@register("q_pagerank", oracle=_PR_DUCK, category="graph")
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled rounds) over the
    customer↔supplier trading graph — the iterative-algorithm
    representative: per round one equi-join of edges to current ranks
    and one exact hash aggregation of quantized contributions, the
    bulk-synchronous shape that scales to billions of edges. The
    oracle unrolls the identical rounds in SQL, so the top-20 ranks
    must match to the last bit."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = o.join(l, o.o_orderkey == l.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    ).distinct()
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    edges = edges.persist()
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    n_nodes = nodes.count()  # bounded: one scalar for the teleport term
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    base = (1 - _DAMP) / float(n_nodes)

    ranks = nodes.withColumn("rank", F.lit(1.0 / float(n_nodes)))
    esrc = edges.join(outdeg, edges.src == outdeg.node).select("src", "dst", "deg")
    for _ in range(_ITERS):
        contrib = (
            esrc.join(ranks, esrc.src == ranks.node)
            .select(
                "dst",
                F.floor(F.col("rank") / F.col("deg") * _PR_SCALE + F.lit(0.5))
                .cast("bigint")
                .alias("q"),
            )
            .groupBy("dst")
            .agg(F.sum("q").alias("s"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(_DAMP) * (F.coalesce(F.col("s"), F.lit(0)).cast("double") / _PR_SCALE)
            ).alias("rank"),
        )
    from pyspark.sql import Window as W

    ranked = ranks.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("rank").desc(), "node"))
    ).filter(F.col("rk") <= _TOP)
    return ranked.select("node", "rk", rnd("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# K-means (Lloyd's iterations) over the embedding corpus
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = 10**6

# Exactness: every per-dimension squared difference is quantized to a
# scaled int64 BEFORE the per-(vector, centroid) sum, so distances are
# exact integers — argmin needs no float tie luck; centroid updates
# sum quantized components the same way. Both engines and any
# partitioning produce identical assignments and centroids.


def _km_assign_duck(cent: str, out: str) -> str:
    return f"""
    {out}_d AS (
      SELECT v.vec_id, c.cid,
             SUM(CAST(FLOOR((v.x - c.x) * (v.x - c.x) * {_KM_SCALE} + 0.5) AS BIGINT)) AS dq
      FROM vx v JOIN {cent} c ON c.dim = v.dim
      GROUP BY v.vec_id, c.cid
    ),
    {out} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cid) AS rk
        FROM {out}_d
      ) WHERE rk = 1
    )"""


def _km_update_duck(assign: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT a.cid, v.dim,
             CAST(SUM(CAST(FLOOR(v.x * {_KM_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * {_KM_SCALE}) AS x
      FROM {assign} a JOIN vx v ON v.vec_id = a.vec_id
      GROUP BY a.cid, v.dim
    )"""


_KMEANS_DUCK = f"""
    WITH vx AS (
      SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, 64) t(i)
    ),
    c0 AS (
      SELECT vec_id AS cid, dim, x FROM vx WHERE vec_id < {_KM_K}
    ),
    {_km_assign_duck("c0", "a1")},
    {_km_update_duck("a1", "c1")},
    {_km_assign_duck("c1", "a2")},
    {_km_update_duck("a2", "c2")},
    {_km_assign_duck("c2", "a3")},
    sizes AS (SELECT cid, COUNT(*) AS n FROM a3 GROUP BY cid),
    norms AS (
      SELECT cid, sqrt(SUM(x * x)) AS nrm FROM c2 GROUP BY cid
    )
    SELECT s.cid, s.n,
           FLOOR((n2.nrm) * 10000 + 0.5) / 10000 AS centroid_norm
    FROM sizes s JOIN norms n2 ON n2.cid = s.cid
"""


@register("q_kmeans_iter", oracle=_KMEANS_DUCK, category="graph")
def q_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 2 update rounds + final assignment) over
    the embedding corpus — the learned-centroid upgrade to the
    label-cell IVF index (similarity.py): at production scale these
    centroids replace the label column as the coarse quantizer.
    Bulk-synchronous rounds like q_pagerank: assignment is a
    broadcast join of (tiny) centroids against the exploded vectors
    with an exact quantized-distance argmin; the update is one
    partial-aggregated mean per (centroid, dim). Everything is
    engine- and partitioning-exact, so the unrolled SQL oracle must
    match bit-for-bit."""
    e = load(spark, sf_dir, "embeddings")
    vx = e.select(
        "vec_id",
        F.posexplode("embedding").alias("d0", "xf"),
    ).select(
        "vec_id",
        (F.col("d0") + 1).cast("bigint").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    ).persist()

    cent = vx.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "dim", "x"
    )

    def assign(c: DataFrame) -> DataFrame:
        dq = (
            vx.alias("v")
            .join(c.alias("c"), F.col("v.dim") == F.col("c.dim"))
            .select(
                F.col("v.vec_id").alias("vec_id"),
                F.col("c.cid").alias("cid"),
                F.floor(
                    (F.col("v.x") - F.col("c.x")) * (F.col("v.x") - F.col("c.x")) * _KM_SCALE
                    + F.lit(0.5)
                ).cast("bigint").alias("t"),
            )
            .groupBy("vec_id", "cid")
            .agg(F.sum("t").alias("dq"))
        )
        best = dq.groupBy("vec_id").agg(F.min(F.struct("dq", "cid")).alias("b"))
        return best.select("vec_id", F.col("b.cid").alias("cid"))

    def update(a: DataFrame) -> DataFrame:
        return (
            a.join(vx, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                (
                    F.sum(F.floor(F.col("x") * _KM_SCALE + F.lit(0.5)).cast("bigint")).cast("double")
                    / (F.count(F.lit(1)) * _KM_SCALE)
                ).alias("x")
            )
        )

    for _ in range(_KM_ITERS):
        cent = update(assign(cent))
    final = assign(cent)
    sizes = final.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    norms = cent.groupBy("cid").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
    return sizes.join(norms, "cid").select("cid", "n", rnd("nrm", 4).alias("centroid_norm"))
