"""Training-export operators: semantic dedup, token-budget mixture
sampling, sequence packing, and deterministic shuffle-sharding.

The last mile of a pretraining corpus pipeline — after cleaning and
near-dedup (dedup.py / corpus_ext.py), the corpus is semantically
pruned, sampled to a token budget per source, packed into fixed-length
training sequences, and laid out as deterministically-shuffled shards.
The reference stores such corpora (its FlatMap/dedup encodings exist
for exactly these feature tables — dwio/nimble/velox/FieldWriter.cpp);
these operators produce them.

Scale shape shared by all four: every op is keyed by a hash-derived
partition (label cell / source / shard), so work distributes without a
global sort; the only windows are per-key. All expressions are
JVM-side; md5-derived determinism keeps the DuckDB oracle bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from nimble_spark.functions.exact import rnd, rnd_sql
from nimble_spark.functions.text_fns import hash32_sql_duck, hash32_sql_spark, tokens
from nimble_spark.operators.similarity import _DOT_DUCK, _DOT_SPARK, _norm_duck, _norm_spark
from nimble_spark.registry import register
from nimble_spark.tables import load

# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# cluster embeddings, drop all-but-one of each within-cluster group of
# semantically near-identical documents. Cells here are the corpus's
# deterministic label cells (the same cells IVF ANN probes); at scale
# cells come from k-means over a sample, k grows with the corpus so
# per-cell candidate sets stay bounded — within-cell all-pairs is the
# published algorithm's shape, O(sum n_c^2) with n_c ~ n/k.
#
# _SEM_CELL_CAP is the skew fence behind that contract: a cell larger
# than the cap means the clustering is too coarse for the corpus (k
# didn't keep up), and an all-pairs over it is O(n_cell²) in ONE task
# — the straggler that kills a 100 TB run. Oversized cells are
# excluded from pair generation (their vectors pass through with
# dropped=0): degradation is "dedup skipped where clustering failed",
# never a wrong drop, and the fix at scale is raising k, not raising
# the cap. Same pattern as _LSH_BUCKET_CAP (dedup.py) and
# _FUZZY_BLOCK_CAP. The cap is mirrored in the DuckDB oracle, so the
# driver gate checks the capped semantics. 2048² ≈ 4M dot products
# per worst-case cell — seconds on one core, bounded regardless of
# corpus size; every cell in the test corpora is far below it
# (max 218 at sf0.1), so the cap changes nothing at bench scale.
# ---------------------------------------------------------------------------

SEM_THR = 0.40
_SEM_CELL_CAP = 2048

_TOKS_DUCK_LEN = "len(string_split_regex(trim(text), '\\s+'))"


@register(
    "q_semantic_dedup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_norm_duck("embedding")} AS nrm
      FROM embeddings
    ),
    bounded AS (
      SELECT * FROM e
      QUALIFY COUNT(*) OVER (PARTITION BY label) <= {_SEM_CELL_CAP}
    ),
    lower_sims AS (
      SELECT b.vec_id, b.label,
             MAX({_DOT_DUCK.format(a="a.embedding", b="b.embedding")}
                 / (a.nrm * b.nrm)) AS max_lower_sim
      FROM bounded a JOIN bounded b
        ON a.label = b.label AND a.vec_id < b.vec_id
      GROUP BY b.vec_id, b.label
    )
    SELECT e.vec_id, e.label,
           {rnd_sql("COALESCE(ls.max_lower_sim, -1.0)")} AS max_lower_sim,
           CAST(CASE WHEN COALESCE(ls.max_lower_sim, -1.0) >= {SEM_THR}
                THEN 1 ELSE 0 END AS BIGINT) AS dropped
    FROM e LEFT JOIN lower_sims ls ON e.vec_id = ls.vec_id
    """,
    category="pipeline",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within each embedding cluster (label cell), a vector
    is dropped when a lower-id vector in the same cell has cosine
    >= SEM_THR — the keep-one-representative rule, deterministic via
    the id order. See semantic_dedup for the cell-cap skew fence."""
    return semantic_dedup(load(spark, sf_dir, "embeddings"))


def semantic_dedup(emb: DataFrame, cell_cap: int = _SEM_CELL_CAP) -> DataFrame:
    """Within-cell SemDeDup with a hot-cell cap (see module header).

    One shuffle on label (the pair join; the cap's window count rides
    that same Exchange — no extra shuffle), one on vec_id (the max
    regroup); embeddings never leave their cell. Cells larger than
    ``cell_cap`` skip pair generation: their vectors pass through with
    max_lower_sim = -1, dropped = 0."""
    e = emb.select(
        "vec_id", "label", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    bounded = (
        e.withColumn("__cn", F.count(F.lit(1)).over(W.partitionBy("label")))
        .filter(F.col("__cn") <= cell_cap)
        .drop("__cn")
    )
    a = bounded.alias("a")
    b = bounded.alias("b")
    sim = F.expr(_DOT_SPARK.format(a="a.embedding", b="b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    # No-neighbor rows come back through a LEFT JOIN of e against the
    # aggregated sims. r11 replaced this with a sentinel-seeded
    # union+groupBy (max(sims ∪ {-1}) ≡ coalesce(max(sims), -1)); the
    # r12 interleaved in-bench warm A/B on a quiet host measured the
    # union shape consistently SLOWER (median 0.71 s vs 0.41 s at
    # sf0.1: the union doubles the aggregation input with n sentinel
    # rows, costing more than the join it saved), so the join shape
    # is restored — VERDICT r11 #5's revert criterion. At broadcastable
    # `lower` sizes the join is a BHJ; past that it is the same
    # big-big SMJ the r11 note worried about, which AQE handles.
    lower = (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.max(sim).alias("max_lower_sim"))
    )
    out = e.join(lower, "vec_id", "left").withColumn(
        "mls", F.coalesce("max_lower_sim", F.lit(-1.0))
    )
    return out.select(
        "vec_id",
        "label",
        rnd("mls").alias("max_lower_sim"),
        (F.col("mls") >= SEM_THR).cast("bigint").alias("dropped"),
    )


# ---------------------------------------------------------------------------
# Token-budget mixture sampling: each source contributes at most a
# fixed share of its own token mass, chosen in deterministic md5
# priority order — the "data mixture" step that reweights sources
# before training. Share-of-own-mass (not absolute tokens) keeps the
# query scale-free across sf dirs.
# ---------------------------------------------------------------------------

BUDGET_SHARE = 0.25


@register(
    "q_token_budget_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, {_TOKS_DUCK_LEN} AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ),
    ranked AS (
      SELECT *,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY pri
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok,
             SUM(n_tok) OVER (PARTITION BY source) AS total_tok
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE cum_tok <= CAST(FLOOR({BUDGET_SHARE} * total_tok) AS BIGINT)) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE cum_tok <= CAST(FLOOR({BUDGET_SHARE} * total_tok) AS BIGINT)), 0) AS BIGINT) AS tokens_kept,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total
    FROM ranked
    GROUP BY source
    """,
    category="pipeline",
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling to a per-source token budget: docs are taken
    in md5(doc_id) priority order until the source has spent
    BUDGET_SHARE of its own token mass. One shuffle on source; the
    cumulative window and the totals ride the same partitioning."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens()).cast("bigint").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    win = W.partitionBy("source").orderBy("pri").rowsBetween(W.unboundedPreceding, 0)
    tot = W.partitionBy("source")
    r = d.withColumn("cum_tok", F.sum("n_tok").over(win)).withColumn(
        "total_tok", F.sum("n_tok").over(tot)
    )
    # floor() on both sides: DuckDB CAST(double AS BIGINT) rounds while
    # Spark's truncates — an explicit floor makes the budget boundary
    # engine-independent.
    kept = F.col("cum_tok") <= F.floor(F.lit(BUDGET_SHARE) * F.col("total_tok"))
    return r.groupBy("source").agg(
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0)).cast("bigint").alias("tokens_kept"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens_total"),
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate documents in deterministic order and
# split at fixed token boundaries — the GPT-style pretraining layout.
# Packing is per-shard (hash32(doc_id) % N_PACK_SHARDS), never global:
# each shard packs independently, so the only sort is a per-shard
# window and shards parallelize across executors. A document may
# straddle sequence boundaries; it belongs to the sequence its first
# token lands in, and `n_split` counts boundary crossings.
# ---------------------------------------------------------------------------

SEQ_LEN = 512
N_PACK_SHARDS = 8


@register(
    "q_sequence_pack",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_DUCK_LEN} AS n_tok,
             {hash32_sql_duck("CAST(doc_id AS VARCHAR)")} % {N_PACK_SHARDS} AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ),
    packed AS (
      SELECT shard, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY pri
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_before
      FROM d
    ),
    seqs AS (
      SELECT shard, n_tok, cum_before,
             cum_before // {SEQ_LEN} AS seq_id,
             (cum_before + n_tok - 1) // {SEQ_LEN} - cum_before // {SEQ_LEN} AS n_split
      FROM packed
    )
    SELECT shard, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           CAST(SUM(n_split) AS BIGINT) AS boundary_crossings
    FROM seqs
    GROUP BY shard, seq_id
    """,
    category="pipeline",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into SEQ_LEN-token training sequences, per hash
    shard. cum_before = tokens preceding the doc in its shard's
    deterministic order; seq_id = cum_before div SEQ_LEN. One shuffle
    on shard; the packing window is shard-local."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("n_tok"),
        F.expr(f"{hash32_sql_spark('CAST(doc_id AS STRING)')} % {N_PACK_SHARDS}").alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    win = W.partitionBy("shard").orderBy("pri").rowsBetween(W.unboundedPreceding, 0)
    p = d.withColumn("cum_before", F.sum("n_tok").over(win) - F.col("n_tok"))
    seq_id = F.floor(F.col("cum_before") / SEQ_LEN)
    n_split = F.floor((F.col("cum_before") + F.col("n_tok") - 1) / SEQ_LEN) - seq_id
    s = p.select("shard", seq_id.alias("seq_id"), "n_tok", n_split.alias("n_split"))
    return s.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tokens"),
        F.sum("n_split").alias("boundary_crossings"),
    )


# ---------------------------------------------------------------------------
# Deterministic shuffle-sharding: the export layout. Training order
# must be a reproducible permutation, not Spark's nondeterministic
# partition order — shard by one hash, order within shard by an
# independent md5, and fingerprint each shard's exact sequence with an
# order-sensitive checksum (sum of position * hash32(doc)), so two
# runs of the export can be compared shard-by-shard without comparing
# payloads.
# ---------------------------------------------------------------------------

N_SHARDS = 16


@register(
    "q_shuffle_shards",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_DUCK_LEN} AS n_tok,
             {hash32_sql_duck("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
             md5(concat('shuf_', CAST(doc_id AS VARCHAR))) AS pri,
             {hash32_sql_duck("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    ordered AS (
      SELECT shard, n_tok, h,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY pri) AS pos
      FROM d
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           CAST(SUM(pos * h) % 1000000007 AS BIGINT) AS order_fingerprint
    FROM ordered
    GROUP BY shard
    """,
    category="pipeline",
)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into N_SHARDS export shards with
    an order-sensitive per-shard fingerprint. One shuffle on shard;
    row_number is shard-local. At 100 TB this is the write layout:
    repartition(shard) + sortWithinPartitions(pri) + one file per
    shard (write_table cut_by does exactly this)."""
    h = F.expr(hash32_sql_spark("CAST(doc_id AS STRING)"))
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("n_tok"),
        (h % N_SHARDS).alias("shard"),
        F.md5(F.concat(F.lit("shuf_"), F.col("doc_id").cast("string"))).alias("pri"),
        h.alias("h"),
    )
    pos = F.row_number().over(W.partitionBy("shard").orderBy("pri"))
    o = d.withColumn("pos", pos)
    return o.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tokens"),
        (F.sum(F.col("pos") * F.col("h")) % 1000000007).cast("bigint").alias("order_fingerprint"),
    )


@register(
    "q_balanced_mix",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars,
             md5(concat('mix_', CAST(doc_id AS VARCHAR))) AS pri
      FROM documents
    ),
    floor_n AS (SELECT MIN(cnt) AS mn FROM (SELECT COUNT(*) AS cnt FROM d GROUP BY source)),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rn <= mn THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= mn THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM ranked, floor_n
    GROUP BY source
    """,
    category="pipeline",
)
def q_balanced_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced dataset mixing: every source is downsampled to the
    minority source's size, documents chosen in deterministic
    md5-priority order — the uniform-mix construction for ablations
    where domain proportions must be exactly equal. One shuffle on
    source (rank + aggregate ride the same partitioning); the floor
    count is a broadcast scalar."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))).alias("pri"),
    )
    floor_n = (
        d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).agg(F.min("cnt").alias("mn"))
    )
    ranked = d.withColumn(
        "rn", F.row_number().over(W.partitionBy("source").orderBy("pri", "doc_id"))
    )
    kept = F.col("rn") <= F.col("mn")
    return (
        ranked.crossJoin(floor_n)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("chars_kept"),
        )
    )


@register(
    "q_temperature_mix",
    oracle="""
    WITH c AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n,
             CAST(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(27,6)) AS DOUBLE) AS wt
      FROM c
    ),
    t AS (
      SELECT CAST(SUM(CAST(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(27,6)) AS DECIMAL(27,6))) AS DOUBLE) AS tot
      FROM c
    )
    SELECT w.source, CAST(w.n AS BIGINT) AS n_docs,
           FLOOR((w.wt / t.tot) * 1000000 + 0.5) / 1000000 AS share,
           CAST(FLOOR(10000 * w.wt / t.tot) AS BIGINT) AS quota
    FROM w CROSS JOIN t
    """,
    category="pipeline",
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data mixing (T=2): each source's sampling
    budget is proportional to n^(1/T) = sqrt(n) — the standard
    upweighting of small domains when assembling a multilingual /
    multi-domain training mix (raw proportions drown minority
    sources; uniform mixing over-trains them; temperature
    interpolates). T=2 is the one temperature whose power is exactly
    portable across engines (sqrt is a correctly-rounded IEEE op;
    general pow is not), and the sqrt weights pass through
    DECIMAL(27,6) before summing so the normalizer is
    order-independent. Output: per-source share and an integer quota
    out of a 10k-document budget."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wt_dec = F.sqrt(F.col("n").cast("double")).cast("decimal(27,6)")
    w = c.select("source", "n", wt_dec.cast("double").alias("wt"))
    t = c.agg(F.sum(wt_dec).cast("double").alias("tot"))
    return w.crossJoin(t).select(
        "source",
        F.col("n").alias("n_docs"),
        rnd(F.col("wt") / F.col("tot"), 6).alias("share"),
        F.floor(F.lit(10000) * F.col("wt") / F.col("tot")).cast("long").alias("quota"),
    )
