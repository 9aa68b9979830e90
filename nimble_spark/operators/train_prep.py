"""Training-set preparation operators: deterministic dataset splits,
RAG-style document chunking, BPE merge-pair mining, embedding
covariance (PCA prep), and ANN recall evaluation.

These close the loop from "clean corpus" (text.py / dedup.py /
corpus_pack.py) to "tensors on trainers": split assignment must be
reproducible across reruns and engines, chunking must be a map-only
pass, merge-pair mining is the first step of training a BPE
tokenizer, covariance feeds whitening/PCA of embedding spaces, and
recall@k is the acceptance metric for every ANN index this repo
ships (q_ann_lsh_topk / q_ann_ivf_topk vs the exact baseline).

Scale posture: splits and chunking are pure per-row expressions (no
shuffle, whole-stage codegen). Merge-pair mining and covariance are
single hash-aggregations with map-side partial combine — the shuffle
carries only (pair, count) / (dim-pair, partial sums), never
documents or vectors. Recall eval joins two top-k result sets of
|Q|·k rows — driver-scale metadata, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from nimble_spark.functions.exact import rnd, rnd_sql
from nimble_spark.functions.text_fns import hash32_sql_duck, hash32_sql_spark
from nimble_spark.operators.similarity import (
    _ANN_LSH_DUCK,
    _COSINE_TOPK_DUCK,
    TOP_K,
    q_ann_lsh_topk,
    q_cosine_topk,
)
from nimble_spark.operators.text import _BPE_RE
from nimble_spark.registry import register
from nimble_spark.tables import load

# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

# Fractions in percent of the md5 bucket space; the split must be a
# pure function of the stable document key so (a) re-running the
# pipeline never migrates a document across splits (no train/test
# leakage between experiments) and (b) any engine reproduces the
# exact membership. Spark's rand()/randomSplit fail both.
_TRAIN_PCT = 80
_VAL_PCT = 10  # test = remainder


@register(
    "q_train_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {hash32_sql_duck("CAST(doc_id AS VARCHAR)")} % 100 < {_TRAIN_PCT} THEN 'train'
                WHEN {hash32_sql_duck("CAST(doc_id AS VARCHAR)")} % 100 < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    category="train_prep",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: bucket =
    md5(doc_id) % 100. A map-only projection — at 100 TB the split is
    free (rides the scan), reproducible across reruns, engines, and
    partitionings, and stable under corpus appends (old docs never
    change split when new docs arrive — unlike rank-based splits)."""
    d = load(spark, sf_dir, "documents")
    bucket = F.expr(hash32_sql_spark("CAST(doc_id AS STRING)")) % 100
    split = (
        F.when(bucket < _TRAIN_PCT, F.lit("train"))
        .when(bucket < _TRAIN_PCT + _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", "lang", split.alias("split"))


# ---------------------------------------------------------------------------
# RAG-style document chunking
# ---------------------------------------------------------------------------

_CHUNK_CHARS = 200
_CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


@register(
    "q_doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, generate_series(0, len(text) - 1, {_CHUNK_STRIDE}) AS starts
      FROM documents WHERE len(text) > 0
    ),
    e AS (SELECT doc_id, text, unnest(starts) AS s FROM t)
    SELECT doc_id,
           s // {_CHUNK_STRIDE} AS chunk_id,
           s AS chunk_start,
           substr(text, CAST(s + 1 AS INTEGER), {_CHUNK_CHARS}) AS chunk,
           len(substr(text, CAST(s + 1 AS INTEGER), {_CHUNK_CHARS})) AS chunk_len
    FROM e
    """,
    category="train_prep",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (200 chars, 50 overlap) with
    character offsets — the retrieval/embedding unit for RAG corpora.
    Pure per-row array expression (sequence → substring → explode):
    no shuffle, no UDF; chunk provenance (doc_id, chunk_start) lets
    downstream dedup/embedding results map back to source spans."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.expr(f"sequence(0L, CAST(length(text) - 1 AS BIGINT), {_CHUNK_STRIDE}L)")
    chunk = F.expr(f"substring(text, CAST(s + 1 AS INT), {_CHUNK_CHARS})")
    return (
        d.select("doc_id", "text", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.expr(f"s div {_CHUNK_STRIDE}").alias("chunk_id"),
            F.col("s").alias("chunk_start"),
            chunk.alias("chunk"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-pair mining
# ---------------------------------------------------------------------------

_TOP_PAIRS = 50


@register(
    "q_bpe_merge_pairs",
    oracle=f"""
    WITH t AS (SELECT regexp_extract_all(text, '{_BPE_RE}') AS toks FROM documents),
    p AS (
      SELECT list_transform(generate_series(1, len(toks) - 1),
                            i -> concat(toks[i], ' ', toks[i + 1])) AS prs
      FROM t WHERE len(toks) >= 2
    ),
    c AS (SELECT unnest(prs) AS pair FROM p),
    a AS (SELECT pair, COUNT(*) AS n FROM c GROUP BY pair),
    r AS (SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk FROM a)
    SELECT pair, n, rk FROM r WHERE rk <= {_TOP_PAIRS}
    """,
    category="train_prep",
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent adjacent token pairs under the GPT-2-ish
    pre-tokenizer — the candidate ranking a BPE trainer consumes for
    its first merge. One hash aggregation with map-side combine: the
    shuffle carries (pair, partial count), never text; the global
    top-50 is a TakeOrdered over the aggregated pair vocabulary, and
    the rank window runs on 50 collected rows, not the vocabulary."""
    d = load(spark, sf_dir, "documents").select(
        F.regexp_extract_all("text", F.lit(f"({_BPE_RE})"), 0).alias("toks")
    )
    pairs = (
        d.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            ).alias("pair")
        )
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_TOP_PAIRS)
    )
    # rank over the already-limited 50 rows (single tiny partition)
    return top.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "pair"))
    )


# ---------------------------------------------------------------------------
# Embedding covariance (PCA / whitening prep)
# ---------------------------------------------------------------------------

_DIM = 64  # embeddings table dimensionality (fixed by the corpus)

# Every addend is quantized to a SCALED INT64 (6 decimals, the same
# half-up FLOOR(x·1e6 + 0.5) rule as functions/exact.py rnd) so the
# partial-aggregated sums are exact and associative: the covariance a
# 1000-executor job computes is bit-identical to a single-threaded
# pass, and to the oracle. The per-partition partials are numpy
# (Arrow batches): per chunk, one vectorized outer-product → quantize
# → int64 reduce. Measured at sf0.1 (5k × 64): 16.8 s as a DECIMAL
# explode lambda, 4.1 s as a scaled-long explode lambda (Catalyst
# higher-order lambdas run interpreted per element), 2.1 s as a
# posexplode self-join (but that shuffles n·d rows — wrong at scale),
# <1 s as numpy partials. The numpy path is also the scale-correct
# one: compute is C-vectorized map-side, the shuffle carries
# d·(d+1)/2 partial rows PER PARTITION, never data.
# Headroom: |scaled addend| ≈ 1e6 for unit-ish embeddings → int64
# partials overflow at ~9e12 rows per partition; chunk accumulators
# are per-partition, so repartition long before that.
_SCALE = 1_000_000
_COV_CHUNK = 2048  # bounds the n·d² outer-product intermediate (~67 MB)


def _cov_partials(batches):
    """mapInPandas kernel: exact scaled-int64 covariance partials.
    Emits one row per upper-triangular (di, dj) pair carrying the
    partition's partial n, Σxy, Σx_i, Σx_j — the per-dim sums ride
    the pair rows (d² × 8 B of duplication per partition) so the
    whole query is ONE aggregation with no re-derivation joins (a
    three-branch pairs/Si/Sj plan re-ran this kernel three times)."""
    import numpy as np
    import pandas as pd

    acc = sx = None
    n = 0
    dim = 0
    for pdf in batches:
        if not len(pdf):
            continue
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        if acc is None:
            dim = m.shape[1]
            acc = np.zeros((dim, dim), np.int64)
            sx = np.zeros(dim, np.int64)
        for lo in range(0, len(m), _COV_CHUNK):
            c = m[lo : lo + _COV_CHUNK]
            # ((x*y)*SCALE)+0.5 — the exact op order of the SQL sides
            acc += np.floor(c[:, :, None] * c[:, None, :] * _SCALE + 0.5).astype(np.int64).sum(axis=0)
            sx += np.floor(c * _SCALE + 0.5).astype(np.int64).sum(axis=0)
        n += len(m)
    if n == 0:
        return
    iu = np.triu_indices(dim)
    yield pd.DataFrame(
        {
            "di": iu[0] + 1,
            "dj": iu[1] + 1,
            "n": np.int64(n),
            "sxy": acc[iu],
            "sxi": sx[iu[0]],
            "sxj": sx[iu[1]],
        }
    )


@register(
    "q_embedding_covariance",
    oracle=f"""
    WITH p AS (
      SELECT i AS di, j AS dj,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE) * {_SCALE} + 0.5) AS BIGINT) AS xy
      FROM embeddings, generate_series(1, {_DIM}) t(i), generate_series(1, {_DIM}) u(j)
      WHERE j >= i
    ),
    a AS (
      SELECT di, dj, COUNT(*) AS n, CAST(SUM(xy) AS DOUBLE) / {_SCALE} AS sxy
      FROM p GROUP BY di, dj
    ),
    s AS (
      SELECT d, CAST(SUM(x) AS DOUBLE) / {_SCALE} AS sx
      FROM (
        SELECT i AS d,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_SCALE} + 0.5) AS BIGINT) AS x
        FROM embeddings, generate_series(1, {_DIM}) t(i)
      ) GROUP BY d
    )
    SELECT di, dj, {rnd_sql("sxy / n - (si.sx / n) * (sj.sx / n)")} AS cov
    FROM a JOIN s si ON si.d = a.di JOIN s sj ON sj.d = a.dj
    """,
    category="train_prep",
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular covariance matrix of the embedding space —
    the input to PCA/whitening of a vector corpus. The classic
    outer-product-sum layout: each partition reduces to d·(d+1)/2
    exact int64 partial rows via a vectorized numpy kernel
    (mapInPandas, Arrow batches), the shuffle carries only those
    partials, and a tiny final aggregation folds partitions and
    derives cov(i,j) = Sxy/n − (Si/n)(Sj/n). Scaled-int64 addends
    (see _cov_partials) make the distributed sums order-independent
    and bit-identical to the oracle."""
    e = load(spark, sf_dir, "embeddings")
    src = e.select("embedding")
    # Scale-adaptive spread (guide §2.2/§2.5): a small corpus arrives
    # as ONE scan partition (a single parquet file under
    # maxPartitionBytes), which runs the whole numpy kernel on one
    # core — the r11 driver measured this query anti-scaling (0.46
    # ratio at 32 vs 8 cores). Widen ONLY when the scan is narrower
    # than the session's parallelism: the exchange moves a few MB of
    # vectors locally, and at 100 TB the scan already has >= cores
    # partitions so this is a no-op (never a coalesce). Round-robin
    # placement is safe: the partials are exact int64 sums, so the
    # result is placement-independent.
    npart = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < npart:
        src = src.repartition(npart)
    parts = src.mapInPandas(
        _cov_partials, schema="di long, dj long, n long, sxy long, sxi long, sxj long"
    )
    a = parts.groupBy("di", "dj").agg(
        F.sum("n").alias("n"),
        (F.sum("sxy").cast("double") / _SCALE).alias("sxy"),
        (F.sum("sxi").cast("double") / _SCALE).alias("sxi"),
        (F.sum("sxj").cast("double") / _SCALE).alias("sxj"),
    )
    cov = F.col("sxy") / F.col("n") - (F.col("sxi") / F.col("n")) * (F.col("sxj") / F.col("n"))
    return a.select("di", "dj", rnd(cov, 4).alias("cov"))


# ---------------------------------------------------------------------------
# ANN recall@k evaluation
# ---------------------------------------------------------------------------


@register(
    "q_ann_recall_eval",
    oracle=f"""
    WITH exact_k AS (SELECT qid, cid FROM ({_COSINE_TOPK_DUCK})),
    approx_k AS (SELECT qid, cid FROM ({_ANN_LSH_DUCK})),
    hits AS (
      SELECT e.qid, COUNT(a.cid) AS n_hits
      FROM exact_k e LEFT JOIN approx_k a ON a.qid = e.qid AND a.cid = e.cid
      GROUP BY e.qid
    )
    SELECT qid, n_hits,
           {rnd_sql(f"CAST(n_hits AS DOUBLE) / {TOP_K}")} AS recall_at_k
    FROM hits
    """,
    category="train_prep",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact brute-force
    top-k — the acceptance metric for every approximate index this
    repo ships. Both sides are existing operators; the eval joins two
    |Q|·k row result sets (driver-scale metadata), so the cost is the
    two underlying searches, not the comparison. At production scale
    the exact side runs on a sampled query set — recall estimates
    don't need every query."""
    exact_k = q_cosine_topk(spark, sf_dir).select("qid", "cid").alias("e")
    approx_k = (
        q_ann_lsh_topk(spark, sf_dir)
        .select(F.col("qid").alias("aqid"), F.col("cid").alias("acid"))
        .alias("a")
    )
    j = exact_k.join(
        approx_k,
        (F.col("e.qid") == F.col("a.aqid")) & (F.col("e.cid") == F.col("a.acid")),
        "left",
    )
    per_q = j.groupBy(F.col("e.qid").alias("qid")).agg(F.count("a.acid").alias("n_hits"))
    return per_q.select(
        "qid", "n_hits", rnd(F.col("n_hits").cast("double") / TOP_K, 4).alias("recall_at_k")
    )


# ---------------------------------------------------------------------------
# Dataset card (per-source corpus report)
# ---------------------------------------------------------------------------


@register(
    "q_dataset_card",
    oracle=f"""
    WITH per AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang
    ),
    top_lang AS (
      SELECT source, lang AS top_lang,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rk
      FROM per
    ),
    card AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             COUNT(DISTINCT lang) AS n_langs,
             COUNT(DISTINCT md5(text)) AS n_unique,
      FROM documents GROUP BY source
    )
    SELECT c.source, c.n_docs, c.total_chars, c.n_langs, t.top_lang,
           {rnd_sql("1.0 - CAST(c.n_unique AS DOUBLE) / c.n_docs")} AS dup_rate
    FROM card c JOIN top_lang t ON t.source = c.source AND t.rk = 1
    """,
    category="train_prep",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary block of a dataset
    release: document count, character volume, language spread,
    dominant language, exact-duplicate rate (md5 digests, never text,
    cross the aggregation). One grouped pass plus a tiny top-lang
    window over (source × lang) aggregates — at 100 TB the shuffle
    carries one row per (source, lang), not documents."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    top = (
        per.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.col("n").desc(), "lang")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    card = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )
    dup = rnd(F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"), 4)
    return card.join(top, "source").select(
        "source", "n_docs", "total_chars", "n_langs", "top_lang", dup.alias("dup_rate")
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary with cumulative coverage
# ---------------------------------------------------------------------------

_VOCAB_TOP = 100


@register(
    "q_tokenizer_vocab",
    oracle=f"""
    WITH t AS (SELECT unnest(regexp_extract_all(text, '{_BPE_RE}')) AS tok FROM documents),
    c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
    tot AS (SELECT SUM(n) AS total FROM c),
    r AS (
      SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk,
             SUM(n) OVER (ORDER BY n DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM c
    )
    SELECT tok, n, rk,
           {rnd_sql("CAST(cum AS DOUBLE) / (SELECT total FROM tot)")} AS cum_share
    FROM r WHERE rk <= {_VOCAB_TOP}
    """,
    category="train_prep",
)
def q_tokenizer_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head with cumulative corpus coverage — the report a
    tokenizer trainer reads to size its vocab (what share of all
    token occurrences do the top-k types cover?). Count aggregation
    is map-side combined; the top-100 is a TakeOrdered; the running
    coverage window runs over the 100 collected rows plus one
    broadcast scalar (total), never the vocabulary."""
    d = load(spark, sf_dir, "documents").select(
        F.explode(F.regexp_extract_all("text", F.lit(f"({_BPE_RE})"), 0)).alias("tok")
    )
    c = d.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = c.agg(F.sum("n").alias("total"))
    top = c.orderBy(F.col("n").desc(), "tok").limit(_VOCAB_TOP)
    w = W.orderBy(F.col("n").desc(), "tok").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = top.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "tok"))
    ).withColumn("cum", F.sum("n").over(w))
    return ranked.crossJoin(total).select(
        "tok", "n", "rk",
        rnd(F.col("cum").cast("double") / F.col("total"), 4).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Near-dup detector evaluation (precision/recall of LSH vs exact)
# ---------------------------------------------------------------------------

from nimble_spark.registry import QUERIES as _Q  # noqa: E402

_EXACT_ND_DUCK = _Q["q_embedding_neardup"].oracle
_LSH_ND_DUCK = _Q["q_embedding_neardup_lsh"].oracle


@register(
    "q_neardup_eval",
    oracle=f"""
    WITH exact_p AS (SELECT id_a, id_b FROM ({_EXACT_ND_DUCK})),
    approx_p AS (SELECT id_a, id_b FROM ({_LSH_ND_DUCK})),
    hit AS (
      SELECT COUNT(*) AS n_hit
      FROM approx_p a JOIN exact_p e ON a.id_a = e.id_a AND a.id_b = e.id_b
    )
    SELECT (SELECT COUNT(*) FROM exact_p) AS n_exact,
           (SELECT COUNT(*) FROM approx_p) AS n_approx,
           n_hit,
           {rnd_sql("CAST(n_hit AS DOUBLE) / NULLIF((SELECT COUNT(*) FROM approx_p), 0)")} AS precision_p,
           {rnd_sql("CAST(n_hit AS DOUBLE) / NULLIF((SELECT COUNT(*) FROM exact_p), 0)")} AS recall_p
    FROM hit
    """,
    category="train_prep",
)
def q_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the banded-LSH near-dup detector against
    the exact all-pairs ground truth — the dedup-family twin of
    q_ann_recall_eval: every approximate detector this repo ships is
    held to a measured quality number, not a vibe. Pair sets are
    id-only (bytes, not vectors) and tiny; the cost is the two
    underlying detectors. At production scale the exact side runs on
    a sampled stratum."""
    from nimble_spark.operators.similarity import (
        q_embedding_neardup,
        q_embedding_neardup_lsh,
    )

    exact_p = q_embedding_neardup(spark, sf_dir).select("id_a", "id_b")
    approx_p = q_embedding_neardup_lsh(spark, sf_dir).select("id_a", "id_b")
    import math

    def _rnd4(x: float) -> float:  # half-up, the rnd()/rnd_sql rule
        return math.floor(x * 10000 + 0.5) / 10000

    n_exact = exact_p.count()
    n_approx = approx_p.count()
    n_hit = approx_p.join(exact_p, ["id_a", "id_b"]).count()
    prec = _rnd4(n_hit / n_approx) if n_approx else None
    rec = _rnd4(n_hit / n_exact) if n_exact else None
    return spark.createDataFrame(
        [(n_exact, n_approx, n_hit, prec, rec)],
        "n_exact BIGINT, n_approx BIGINT, n_hit BIGINT, precision_p DOUBLE, recall_p DOUBLE",
    )


@register(
    "q_class_scatter",
    oracle=f"""
    WITH flat AS (
      SELECT label, i AS dim_i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_SCALE} + 0.5) AS BIGINT) AS x
      FROM embeddings, generate_series(1, {_DIM}) t(i)
    ),
    per_class AS (
      SELECT label, dim_i, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM flat GROUP BY label, dim_i
    ),
    agg AS (
      SELECT dim_i,
             CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(SUM(sx) AS BIGINT) AS sx_tot,
             CAST(SUM(sxx) AS BIGINT) AS sxx_tot,
             CAST(SUM(CAST(sx AS DOUBLE) * sx / n) AS DOUBLE) AS sum_cm
      FROM per_class GROUP BY dim_i
    )
    SELECT dim_i,
           {rnd_sql(f"(CAST(sxx_tot AS DOUBLE) - CAST(sx_tot AS DOUBLE) * sx_tot / n_tot) / n_tot / {_SCALE} / {_SCALE}")} AS var_total,
           {rnd_sql(f"(sum_cm - CAST(sx_tot AS DOUBLE) * sx_tot / n_tot) / n_tot / {_SCALE} / {_SCALE}")} AS var_between,
           {rnd_sql(f"(sum_cm - CAST(sx_tot AS DOUBLE) * sx_tot / n_tot) / (CAST(sxx_tot AS DOUBLE) - CAST(sx_tot AS DOUBLE) * sx_tot / n_tot)")} AS discriminability
    FROM agg
    """,
    category="train_prep",
)
def q_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension class scatter: total variance decomposed into
    between-class and within-class parts (ANOVA identity); the
    between/total ratio is each dimension's label-discriminability —
    the feature-selection diagnostic run before training a probe or
    pruning embedding dims. Scaled-int64 sums make every partial
    order-independent and bit-exact; the per-(label, dim) partials
    are tiny (k·d rows), so the two-level aggregation shuffles
    metadata, never vectors."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select("label", F.posexplode("embedding").alias("dim0", "v0")).select(
        "label",
        (F.col("dim0") + 1).alias("dim_i"),
        F.floor(F.col("v0").cast("double") * _SCALE + 0.5).cast("long").alias("x"),
    )
    per_class = flat.groupBy("label", "dim_i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    agg = per_class.groupBy("dim_i").agg(
        F.sum("n").alias("n_tot"),
        F.sum("sx").alias("sx_tot"),
        F.sum("sxx").alias("sxx_tot"),
        F.sum(F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("sum_cm"),
    )
    ss_tot = F.col("sxx_tot").cast("double") - F.col("sx_tot").cast("double") * F.col("sx_tot") / F.col("n_tot")
    ss_btw = F.col("sum_cm") - F.col("sx_tot").cast("double") * F.col("sx_tot") / F.col("n_tot")
    return agg.select(
        "dim_i",
        rnd(ss_tot / F.col("n_tot") / _SCALE / _SCALE, 4).alias("var_total"),
        rnd(ss_btw / F.col("n_tot") / _SCALE / _SCALE, 4).alias("var_between"),
        rnd(ss_btw / ss_tot, 4).alias("discriminability"),
    )


# ---------------------------------------------------------------------------
# Stratified deterministic split — exact per-stratum proportions
# ---------------------------------------------------------------------------

@register(
    "q_stratified_split",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {hash32_sql_duck("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rk <= CAST(FLOOR(n * 8 / 10) AS BIGINT) THEN 'train'
                WHEN rk <= CAST(FLOOR(n * 9 / 10) AS BIGINT) THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
    category="train_prep",
)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED deterministic split: within every stratum (language),
    documents are ranked by a portable content-independent hash and
    the first floor(0.8·n_s) go to train, the next floor(0.1·n_s) to
    val, the rest to test — EXACT per-stratum proportions, which the
    plain hash-mod split (q_train_split) only approximates (a 50-doc
    minority language can land 70/30 by mod-bucket luck, skewing
    eval coverage for exactly the strata that can least afford it).
    Deterministic across engines, reruns, and partitionings; the hash
    ordering (not doc_id order) keeps membership insensitive to
    ingestion order within a stratum.

    Scale: one window over the stratum key — a single shuffle,
    partition-local ranking. Strata are language-sized (dozens), so
    skew is bounded by corpus language balance; for a pathologically
    dominant stratum, rank against per-stratum hash QUANTILES
    (computed once, broadcast) to make assignment map-only — same
    membership, no global window. Unlike q_train_split, membership
    shifts as a stratum grows (quotas are exact, not sticky):
    pick this when per-stratum balance matters more than append
    stability, the mod split when the reverse."""
    d = load(spark, sf_dir, "documents")
    h = F.expr(hash32_sql_spark("CAST(doc_id AS STRING)"))
    wr = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    wn = W.partitionBy("lang")
    r = (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    split = (
        F.when(F.col("rk") <= F.floor(F.col("n") * 8 / 10), F.lit("train"))
        .when(F.col("rk") <= F.floor(F.col("n") * 9 / 10), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return r.select("doc_id", "lang", split.alias("split"))
