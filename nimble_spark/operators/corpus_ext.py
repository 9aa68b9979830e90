"""Training-corpus hygiene operators: benchmark decontamination,
paragraph-level dedup, PII scrubbing, and repetition-based quality
filtering over the `documents` table.

These extend the LLM-pipeline surface (dedup.py / text.py /
pipeline.py) with the remaining ops a production pretraining pipeline
runs before training: remove eval-benchmark overlap, drop boilerplate
paragraphs, redact PII, and filter degenerate repetitive documents.

Scale notes (100 TB posture):
- Decontamination broadcasts the benchmark n-gram set — benchmarks are
  fixed, small corpora (thousands of docs), so the corpus side stays a
  single scan + one doc_id shuffle regardless of corpus size.
- Paragraph dedup shuffles 32-hex md5 digests, never paragraph text —
  the same digests-only discipline as dedup.py exact dedup.
- PII scrubbing and repetition scoring are pure per-row JVM expressions
  (regexp_replace / higher-order fns) — scan-local, no shuffle.
All expressions are JVM-side; no Python UDFs in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import rnd, rnd_sql
from nimble_spark.functions.text_fns import shingles_sql_duck, shingles_sql_spark
from nimble_spark.registry import register
from nimble_spark.tables import load

_TOKS_DUCK = "string_split_regex(trim(text), '\\s+')"

# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

# Deterministic stand-in benchmark: every 97th document plays the role
# of the held-out eval set. In production this side is a real benchmark
# corpus (MMLU/GSM8K/...) loaded from its own table; the plan shape is
# identical because only its small distinct n-gram set is broadcast.
_BENCH_MOD = 97
_DECON_N = 5  # word n-gram size used for overlap detection


@register(
    "q_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    s AS (SELECT doc_id, list_distinct({shingles_sql_duck("toks", _DECON_N)}) AS sh FROM t),
    bg AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {_BENCH_MOD} = 0),
    c AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % {_BENCH_MOD} <> 0)
    SELECT c.doc_id,
           COUNT(*) AS n_grams,
           COUNT(bg.g) AS n_hit,
           {rnd_sql("CAST(COUNT(bg.g) AS DOUBLE) / COUNT(*)")} AS contamination
    FROM c LEFT JOIN bg ON c.g = bg.g
    GROUP BY c.doc_id
    HAVING COUNT(bg.g) > 0
    """,
    category="pipeline",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of
    its distinct word 5-grams that appear anywhere in the benchmark
    set. Documents with any overlap are reported (a production run
    drops rows above a threshold). The benchmark's distinct n-gram set
    is broadcast; the corpus side is one scan + one doc_id shuffle."""
    d = load(spark, sf_dir, "documents")
    s = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    ).select(
        "doc_id",
        F.array_distinct(F.expr(shingles_sql_spark("toks", _DECON_N))).alias("sh"),
    )
    # explode_outer: the plain explode triggers InferFiltersFromGenerate,
    # which pushes a size(sh)>0 filter below the projection and inlines
    # the whole shingle lambda into it (re-evaluated per row).
    bench = (
        s.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = (
        s.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    joined = corpus.join(bench, "g", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            rnd(F.col("n_hit").cast("double") / F.col("n_grams")).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup
# ---------------------------------------------------------------------------

# The synthetic corpus has no newlines, so "paragraph" is defined as a
# fixed 15-token chunk — the operator shape (explode → digest → global
# count → join back) is exactly what a \n\n split would run.
_PARA_TOKS = 15


def _paras_spark() -> str:
    return (
        f"transform(sequence(0, CAST(floor((size(toks) - 1) / {_PARA_TOKS}) AS INT)), "
        f"i -> concat_ws(' ', slice(toks, i * {_PARA_TOKS} + 1, {_PARA_TOKS})))"
    )


def _paras_duck() -> str:
    return (
        f"list_transform(generate_series(0, CAST(floor((len(toks) - 1) / {_PARA_TOKS}) AS INT)), "
        f"i -> array_to_string(toks[i * {_PARA_TOKS} + 1 : i * {_PARA_TOKS} + {_PARA_TOKS}], ' '))"
    )


@register(
    "q_paragraph_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    p AS (SELECT doc_id, md5(unnest({_paras_duck()})) AS ph FROM t),
    g AS (SELECT ph, COUNT(DISTINCT doc_id) AS n_docs FROM p GROUP BY ph)
    SELECT p.doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
           {rnd_sql("CAST(SUM(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS dup_frac
    FROM p JOIN g ON p.ph = g.ph
    GROUP BY p.doc_id
    """,
    category="pipeline",
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup scoring: per document, how many of its
    paragraphs also occur in at least one other document (boilerplate
    detection). Paragraphs are hashed at the explode, so shuffles move
    md5 digests, never paragraph text."""
    d = load(spark, sf_dir, "documents")
    p = (
        d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
        .select("doc_id", F.explode_outer(F.expr(_paras_spark())).alias("para"))
        .filter(F.col("para").isNotNull())
        .select("doc_id", F.md5("para").alias("ph"))
    )
    g = p.groupBy("ph").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("bigint")
    return (
        p.join(g, "ph")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_paras"), dup.alias("n_dup_paras"))
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            rnd(F.col("n_dup_paras").cast("double") / F.col("n_paras")).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# The corpus contains no PII, so each doc deterministically injects a
# synthetic email (always) and phone number (every other doc); the
# scrub then has real work whose counts and output hash are oracle-
# checked. Patterns stay in the Java∩RE2 common subset.
_EMAIL_PAT = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PHONE_PAT = "555-[0-9]+"


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  || CASE WHEN doc_id % 2 = 0
                          THEN ' call 555-' || CAST(doc_id % 10000 AS VARCHAR)
                          ELSE '' END AS text2
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text2, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                              '{_PHONE_PAT}', '<PHONE>', 'g')) AS scrub_hash
    FROM t
    """,
    category="pipeline",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and replace email/phone patterns per
    document, returning match counts and a digest of the scrubbed
    text. Pure per-row regexp expressions — scan-local, no shuffle."""
    d = load(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" call 555-"), (F.col("doc_id") % 10000).cast("string")),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", text2.alias("text2"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text2", _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return t.select(
        "doc_id",
        F.regexp_count("text2", F.lit(_EMAIL_PAT)).cast("bigint").alias("n_emails"),
        F.regexp_count("text2", F.lit(_PHONE_PAT)).cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


# ---------------------------------------------------------------------------
# Repetition-ratio quality filter
# ---------------------------------------------------------------------------


@register(
    "q_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    s AS (SELECT doc_id, unnest({shingles_sql_duck("toks", 3)}) AS g FROM t),
    c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM s GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_grams,
           COUNT(*) AS n_distinct,
           {rnd_sql("1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt)")} AS dup_frac,
           {rnd_sql("CAST(MAX(cnt) AS DOUBLE) / SUM(cnt)")} AS top_frac
    FROM c
    GROUP BY doc_id
    """,
    category="pipeline",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring (Gopher-style): per document,
    the duplicate word-3-gram fraction and the share of the single
    most frequent 3-gram. Degenerate looping text scores high on both.
    Explode + per-(doc, gram) partial count keeps it one shuffle."""
    d = load(spark, sf_dir, "documents")
    s = (
        d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
        .select(
            "doc_id",
            F.explode_outer(F.expr(shingles_sql_spark("toks", 3))).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    c = s.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_cnt"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            rnd(F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")).alias("dup_frac"),
            rnd(F.col("max_cnt").cast("double") / F.col("n_grams")).alias("top_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (duplicated token spans across documents)
# ---------------------------------------------------------------------------

# Anchor width in tokens. Every k-token window (stride 1) is hashed; a
# window whose hash occurs in >1 distinct document marks a duplicated
# anchor, and overlapping/adjacent duplicated anchors merge into
# maximal duplicated spans — the distributed approximation of
# suffix-array substring dedup (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better"). At 100 TB you raise
# the stride and/or k; the plan shape is unchanged.
_SPAN_K = 8


@register(
    "q_substring_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    s0 AS (SELECT doc_id, len(toks) AS n_toks,
                  {shingles_sql_duck("toks", _SPAN_K)} AS sh
           FROM t),
    s AS (SELECT doc_id, n_toks,
                 unnest(sh) AS g,
                 unnest(generate_series(0, len(sh) - 1)) AS pos
          FROM s0),
    h AS (SELECT doc_id, n_toks, pos,
                 CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS gh
          FROM s),
    shared AS (SELECT gh FROM h GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
    dup AS (SELECT h.doc_id, h.n_toks, h.pos FROM h JOIN shared USING (gh)),
    r AS (SELECT doc_id, n_toks, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                        OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_K}
                      THEN 1 ELSE 0 END AS brk
          FROM dup),
    rr AS (SELECT doc_id, n_toks, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS run_id
           FROM r),
    spans AS (SELECT doc_id, n_toks, run_id,
                     MAX(pos) - MIN(pos) + {_SPAN_K} AS span_toks
              FROM rr GROUP BY doc_id, n_toks, run_id)
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(span_toks) AS BIGINT) AS dup_tokens,
           {rnd_sql("CAST(SUM(span_toks) AS DOUBLE) / n_toks")} AS dup_frac
    FROM spans
    GROUP BY doc_id, n_toks
    """,
    category="pipeline",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup: per document, the maximal token
    spans whose every k-token window also occurs verbatim in another
    document — the distributed analogue of suffix-array training-data
    dedup (Lee et al. 2021). Anchors are 60-bit hashed k-grams at
    stride 1; anchors within k of each other merge into one span
    (their token coverage is contiguous), so a verbatim boilerplate
    block reports as ONE span with its true token length.

    Scale shape: shuffles carry (doc_id, pos, 60-bit hash) tuples —
    never text. One hash shuffle finds cross-doc anchors, one doc_id
    shuffle merges runs with a partition-local window; both keys are
    high-cardinality and unskewed. Stride/k are the knobs that trade
    recall for anchor volume at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    s = t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.posexplode_outer(F.expr(shingles_sql_spark("toks", _SPAN_K))).alias("pos", "g"),
    ).filter(F.col("g").isNotNull())
    h = s.select(
        "doc_id",
        "n_toks",
        "pos",
        F.expr("CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)").alias("gh"),
    )
    # "anchor occurs in >1 distinct document" ⟺ min(doc_id) ≠
    # max(doc_id) over the anchor's hash partition. r11 spelled this
    # as a groupBy(gh) + join back to h — which physically executed
    # the tokenize/shingle/md5 pipeline TWICE (aggregate input + join
    # probe side) and paid a join; a min/max WINDOW over the same gh
    # key does it in ONE pass over ONE exchange, no join, pipeline
    # evaluated once (guide §2.4 two operations keyed the same way
    # share one exchange). Result set identical — doc_id is non-null,
    # and the oracle keeps the COUNT(DISTINCT) spelling; hash-gated.
    # Measured sf0.1: median 3.0 s → 1.6 s.
    from pyspark.sql.window import Window

    wg = Window.partitionBy("gh")
    dup = (
        h.withColumn("d0", F.min("doc_id").over(wg))
        .withColumn("d1", F.max("doc_id").over(wg))
        .filter(F.col("d0") != F.col("d1"))
        .select("doc_id", "n_toks", "pos")
    )
    # Run merging as ONE aggregation + a sorted-array fold instead of
    # a lag/running-sum window pair plus two follow-up groupBys: the
    # old plan paid an exchange + full sort for the window and two
    # more aggregate phases; this one pays a single (doc_id, n_toks)
    # exchange (collect_list partial-aggregates map-side) and folds
    # each doc's sorted anchor positions once. Per-doc state is the
    # position list — bounded by the document's own token count, the
    # same bound the text itself has, so this holds at 100 TB. Anchor
    # positions are distinct per doc (stride-1 posexplode), so the
    # sort is deterministic and span arithmetic is exact integers —
    # output identical (oracle keeps the window spelling; hash-gated).
    k = _SPAN_K
    fold = (
        "aggregate(array_sort(ps), "
        "named_struct('prev', -1, 'mn', -1, 'spans', CAST(0 AS BIGINT), 'toks', CAST(0 AS BIGINT)), "
        "(acc, p) -> IF(acc.prev < 0, "
        "  named_struct('prev', p, 'mn', p, 'spans', CAST(1 AS BIGINT), 'toks', CAST(0 AS BIGINT)), "
        f" IF(p - acc.prev > {k}, "
        f"   named_struct('prev', p, 'mn', p, 'spans', acc.spans + CAST(1 AS BIGINT), 'toks', acc.toks + CAST(acc.prev - acc.mn + {k} AS BIGINT)), "
        "   named_struct('prev', p, 'mn', acc.mn, 'spans', acc.spans, 'toks', acc.toks))), "
        f"acc -> named_struct('spans', acc.spans, 'toks', acc.toks + CAST(acc.prev - acc.mn + {k} AS BIGINT)))"
    )
    return (
        dup.groupBy("doc_id", "n_toks")
        .agg(F.collect_list("pos").alias("ps"))
        .select("doc_id", "n_toks", F.expr(fold).alias("sp"))
        .select(
            "doc_id",
            F.col("sp.spans").alias("n_spans"),
            F.col("sp.toks").alias("dup_tokens"),
            rnd(F.col("sp.toks").cast("double") / F.col("n_toks")).alias("dup_frac"),
        )
    )
