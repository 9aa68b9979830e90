"""The end-to-end training-corpus pipeline — the composition a 100 TB
LLM-data run actually executes, as ONE oracle-checked query:

    quality filter → exact dedup → near-dup drop (MinHash-LSH)
    → stratified sample → per-(lang, source) token accounting

Every stage is deterministic and engine-portable (int ratios, md5
hashes, exact integer sums), so the whole pipeline hash-matches the
DuckDB oracle bit-for-bit — the property that makes a multi-stage
pipeline debuggable: any stage's drift is caught at the end.

Scale shape: stages 1-2 are one scan + one content-hash groupBy
(digests shuffle, never text); the near-dup drop is a broadcast
anti-join against the LSH pair set (|pairs| ≪ |docs|); sampling is a
scan-local predicate; the final accounting is a partial-aggregated
groupBy on (lang, source). No stage moves document payloads through a
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.operators.dedup import _LSH_PAIRS_DUCK, q_minhash_lsh_pairs
from nimble_spark.functions.exact import rnd
from nimble_spark.registry import register
from nimble_spark.tables import load

_STOPS = "'the', 'a', 'of', 'and', 'is'"
_QUALITY_THR = 0.5


@register(
    "q_corpus_pipeline",
    oracle=f"""
    WITH pairs AS (
      {_LSH_PAIRS_DUCK}
    ),
    t AS (
      SELECT doc_id, lang, source, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             LENGTH(text) AS len_c
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang, source, len_c,
             len(toks) AS n_tok,
             CAST(len(list_filter(toks, x -> x IN ({_STOPS}))) AS DOUBLE)
               / len(toks) AS stop_ratio,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / len_c AS digit_ratio,
             md5(text) AS content_hash
      FROM t
    ),
    q AS (
      SELECT *, LEAST(1.0, n_tok / 100.0) * (1 - digit_ratio)
                  * (0.5 + stop_ratio) AS quality
      FROM m
    ),
    filtered AS (SELECT * FROM q WHERE quality >= {_QUALITY_THR}),
    exact_kept AS (
      SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY content_hash
    ),
    e AS (SELECT f.* FROM filtered f JOIN exact_kept k ON f.doc_id = k.doc_id),
    nd AS (
      SELECT * FROM e
      WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = e.doc_id)
    ),
    sampled AS (
      SELECT * FROM nd
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100
            < CASE WHEN lang = 'en' THEN 80 ELSE 40 END
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens, CAST(SUM(len_c) AS BIGINT) AS total_chars
    FROM sampled GROUP BY lang, source
    """,
    category="pipeline",
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Near-dup policy: drop every document that
    has a smaller-id near-duplicate candidate (the larger side of each
    LSH-verified pair) — deterministic, order-free, and exactly the
    "keep the canonical representative" discipline of q_dedup_clusters
    without needing the fixpoint here."""
    drop_ids = q_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("id_b").alias("doc_id")
    ).distinct()

    d = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", F.split(F.trim("text"), r"\s+"))
        .withColumn("len_c", F.length("text"))
    )
    n_tok = F.size("toks")
    stop_ratio = (
        F.expr(f"size(filter(toks, x -> x IN ({_STOPS})))").cast("double") / n_tok
    )
    digit_ratio = (
        F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / F.col("len_c")
    )
    m = d.select(
        "doc_id",
        "lang",
        "source",
        "len_c",
        n_tok.alias("n_tok"),
        stop_ratio.alias("stop_ratio"),
        digit_ratio.alias("digit_ratio"),
        F.md5("text").alias("content_hash"),
    )
    quality = (
        F.least(F.lit(1.0), F.col("n_tok") / 100.0)
        * (1 - F.col("digit_ratio"))
        * (0.5 + F.col("stop_ratio"))
    )
    filtered = m.filter(quality >= _QUALITY_THR)

    exact_kept = filtered.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    e = filtered.join(
        exact_kept.select("doc_id"), "doc_id", "left_semi"
    )
    # drop_ids is the few near-dup ids; its estimate is the candidate self-join's size
    nd = e.join(F.broadcast(drop_ids), "doc_id", "left_anti")

    h = (
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
        % 100
    )
    quota = F.when(F.col("lang") == "en", 80).otherwise(40)
    sampled = nd.filter(h < quota)

    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("len_c").alias("total_chars"),
    )


@register(
    "q_rag_pipeline",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text, generate_series(0, len(text) - 1, 150) AS starts
      FROM documents WHERE len(text) > 0
    ),
    ch AS (
      SELECT doc_id, lang, s,
             substr(text, CAST(s + 1 AS INTEGER), 200) AS chunk
      FROM (SELECT doc_id, lang, text, unnest(starts) AS s FROM t)
    ),
    tot AS (SELECT lang, COUNT(*) AS n_total FROM ch GROUP BY lang),
    canon AS (
      SELECT lang, len(chunk) AS clen,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, s) AS rk
      FROM ch
    ),
    kept AS (
      SELECT lang, COUNT(*) AS n_kept, CAST(SUM(clen) AS BIGINT) AS kept_chars
      FROM canon WHERE rk = 1 GROUP BY lang
    )
    SELECT t.lang, t.n_total, k.n_kept,
           FLOOR((1.0 - CAST(k.n_kept AS DOUBLE) / t.n_total) * 10000 + 0.5) / 10000 AS dup_rate,
           k.kept_chars
    FROM tot t JOIN kept k ON k.lang = t.lang
    """,
    category="pipeline",
)
def q_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingest pipeline, end-to-end: sliding-window chunking
    (200/50 overlap, map-only) → exact chunk dedup by content digest
    (16-byte md5 through the shuffle, never chunk text) → canonical
    owner per digest (deterministic min over (doc_id, chunk_id)) →
    per-language retention report. The second oracle-gated
    composition (with q_corpus_pipeline): what an embedding-index
    builder runs before any vector is computed. At 100 TB: one chunk
    expansion in the scan stage, one digest shuffle, one tiny
    rollup."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.expr("sequence(0L, CAST(length(text) - 1 AS BIGINT), 150L)")
    ch = d.select(
        "doc_id", "lang", "text", F.explode(starts).alias("s")
    ).select(
        "doc_id",
        "lang",
        F.expr("s div 150").alias("chunk_id"),
        F.expr("substring(text, CAST(s + 1 AS INT), 200)").alias("chunk"),
    )
    tot = ch.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    canon = ch.groupBy(F.md5("chunk").alias("dg")).agg(
        F.min(
            F.struct("doc_id", "chunk_id", "lang", F.length("chunk").alias("len"))
        ).alias("own")
    )
    kept = canon.groupBy(F.col("own.lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("own.len")).cast("bigint").alias("kept_chars"),
    )
    dup = rnd(F.lit(1.0) - F.col("n_kept").cast("double") / F.col("n_total"), 4)
    return tot.join(kept, "lang").select(
        "lang", "n_total", "n_kept", dup.alias("dup_rate"), "kept_chars"
    )
