"""Text-analysis operators for training-data pipelines over the
`documents` table: token statistics, language-ID heuristic, quality
scoring, document fingerprinting.

All expressions are JVM-side (split/transform/aggregate) — no Python
UDFs in this module — so at 100 TB the scan is a single whole-stage
codegen pass per document with no Arrow exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.text_fns import MOD, hash32_sql_duck, hash32_sql_spark
from nimble_spark.functions.exact import rnd
from nimble_spark.registry import register
from nimble_spark.tables import load

R4 = 4

_TOKS_DUCK = "string_split_regex(trim(text), '\\s+')"


def _with_tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", F.split(F.trim("text"), r"\s+"))


@register(
    "q_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_DUCK} AS toks, n_chars FROM documents)
    SELECT doc_id, lang, n_chars,
           len(toks)                AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           FLOOR((CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 AS avg_tok_len,
           FLOOR((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 AS ttr
    FROM t
    """,
    category="text",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: totals, distincts, mean token length, type-token
    ratio. Whitespace tokenizer (BPE-ish regex variants in quality op)."""
    d = _with_tokens(load(spark, sf_dir, "documents"))
    n_tok = F.size("toks")
    tot_len = F.expr("aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        rnd(tot_len.cast("double") / n_tok, 4).alias("avg_tok_len"),
        rnd(F.size(F.array_distinct("toks")).cast("double") / n_tok, 4).alias("ttr"),
    )


_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "y", "las", "una"),
}


def _marker_count_spark(lang: str) -> F.Column:
    lst = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return F.expr(f"size(filter(toks, x -> x IN ({lst})))")


def _marker_count_duck(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({lst})))"


_LANG_ID_DUCK = f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_DUCK} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {_marker_count_duck("en")} AS s_en,
             {_marker_count_duck("fr")} AS s_fr,
             {_marker_count_duck("de")} AS s_de,
             {_marker_count_duck("es")} AS s_es
      FROM t
    )
    SELECT doc_id, lang, s_en, s_fr, s_de, s_es,
           CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END AS pred,
           CASE WHEN (CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END) = lang THEN 1 ELSE 0 END AS hit
    FROM scored
"""


@register("q_lang_id", oracle=_LANG_ID_DUCK, category="text")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker counts per language,
    argmax with fixed precedence (en > fr > de > es on ties)."""
    d = _with_tokens(load(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        _marker_count_spark("en").alias("s_en"),
        _marker_count_spark("fr").alias("s_fr"),
        _marker_count_spark("de").alias("s_de"),
        _marker_count_spark("es").alias("s_es"),
    )
    pred = (
        F.when((F.col("s_en") >= F.col("s_fr")) & (F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")), "en")
        .when((F.col("s_fr") >= F.col("s_de")) & (F.col("s_fr") >= F.col("s_es")), "fr")
        .when(F.col("s_de") >= F.col("s_es"), "de")
        .otherwise("es")
    )
    return scored.withColumn("pred", pred).withColumn(
        "hit", F.when(F.col("pred") == F.col("lang"), 1).otherwise(0)
    )


@register(
    "q_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS_DUCK} AS toks,
             LENGTH(text) AS len_c FROM documents
    ), m AS (
      SELECT doc_id, source, len_c,
             len(toks) AS n_tok,
             CAST(len_c - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / len_c AS punct_ratio,
             CAST({_marker_count_duck("en")} AS DOUBLE) / len(toks) AS stop_ratio,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / len_c AS digit_ratio
      FROM t
    )
    SELECT doc_id, source, len_c, n_tok,
           FLOOR((punct_ratio) * 10000 + 0.5) / 10000 AS punct_ratio,
           FLOOR((stop_ratio) * 10000 + 0.5) / 10000  AS stop_ratio,
           FLOOR((digit_ratio) * 10000 + 0.5) / 10000 AS digit_ratio,
           FLOOR((LEAST(1.0, n_tok / 100.0) * (1 - digit_ratio) * (0.5 + stop_ratio)) * 10000 + 0.5) / 10000 AS quality
    FROM m
    """,
    category="text",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length norm × digit penalty ×
    stopword-density boost (the usual pretraining-filter features)."""
    d = _with_tokens(load(spark, sf_dir, "documents")).withColumn("len_c", F.length("text"))
    n_tok = F.size("toks")
    punct_ratio = (F.col("len_c") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))).cast("double") / F.col("len_c")
    stop_ratio = _marker_count_spark("en").cast("double") / n_tok
    digit_ratio = F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / F.col("len_c")
    m = d.select(
        "doc_id",
        "source",
        "len_c",
        n_tok.alias("n_tok"),
        punct_ratio.alias("punct_r"),
        stop_ratio.alias("stop_r"),
        digit_ratio.alias("digit_r"),
    )
    quality = F.least(F.lit(1.0), F.col("n_tok") / 100.0) * (1 - F.col("digit_r")) * (0.5 + F.col("stop_r"))
    return m.select(
        "doc_id",
        "source",
        "len_c",
        "n_tok",
        rnd("punct_r", 4).alias("punct_ratio"),
        rnd("stop_r", 4).alias("stop_ratio"),
        rnd("digit_r", 4).alias("digit_ratio"),
        rnd(quality, 4).alias("quality"),
    )


@register(
    "q_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(1, len(toks)),
                    i -> (i * ({hash32_sql_duck("toks[i]")} % 100000)) % {MOD})) % {MOD} AS BIGINT) AS fp
    FROM t
    """,
    category="text",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted polynomial document fingerprint (content-
    defined hash, int64-exact → oracle matches bit-for-bit)."""
    d = _with_tokens(load(spark, sf_dir, "documents"))
    tok_h = hash32_sql_spark("element_at(toks, i)")
    fp = F.expr(
        f"aggregate(transform(sequence(1, size(toks)), i -> (i * ({tok_h} % 100000)) % {MOD}),"
        f" 0L, (a, x) -> a + x) % {MOD}"
    )
    return d.select("doc_id", fp.alias("fp"))


@register(
    "q_corpus_stats",
    oracle=f"""
    WITH t AS (SELECT lang, source, {_TOKS_DUCK} AS toks, n_chars FROM documents)
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           FLOOR((AVG(len(toks))) * 10000 + 0.5) / 10000    AS avg_tokens
    FROM t GROUP BY lang, source
    """,
    category="text",
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup (the per-partition accounting a 100 TB
    pipeline tracks: doc/token/char counts by lang × source)."""
    d = _with_tokens(load(spark, sf_dir, "documents"))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        rnd(F.avg(F.size("toks")), 4).alias("avg_tokens"),
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "q_bpe_tokens",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_extract_all(text, '{_BPE_RE}') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS n_digit,
           len(list_filter(toks, x -> regexp_matches(x, '^[^A-Za-z0-9]$'))) AS n_punct
    FROM t
    """,
    category="text",
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization: the GPT-2-ish split into letter
    runs / digit runs / single punctuation marks via one regex —
    the token-count signal an LLM-data pipeline budgets corpora by.
    The pattern uses only syntax with identical semantics in Java
    regex (Spark, JVM-side regexp_extract_all — no UDF) and RE2
    (DuckDB oracle). Distinct/digit/punct breakdowns ride the same
    extracted array, one scan, no shuffle."""
    d = load(spark, sf_dir, "documents")
    # F.lit pattern, not F.expr: a SQL string literal would eat the
    # backslash in \s and silently change the character class.
    toks = F.regexp_extract_all("text", F.lit(f"({_BPE_RE})"), 0)
    t = d.select("doc_id", "lang", toks.alias("toks"))
    return t.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.size(F.expr("filter(toks, x -> x rlike '^[0-9]+$')")).alias("n_digit"),
        F.size(F.expr("filter(toks, x -> x rlike '^[^A-Za-z0-9]$')")).alias("n_punct"),
    )


@register(
    "q_stratified_sample",
    oracle="""
    WITH s AS (
      SELECT lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS h
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN h < CASE WHEN lang = 'en' THEN 50
                              WHEN lang = 'zh' THEN 30
                              ELSE 10 END
               THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM s GROUP BY lang
    """,
    category="text",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling with deterministic quotas —
    how a training-data pipeline rebalances a corpus (keep 50% en,
    30% zh, 10% everything else) *reproducibly*: the stratum decision
    is a portable md5 hash of doc_id, so every engine and every rerun
    selects the same documents (TABLESAMPLE's engine-local RNG
    cannot). One scan, one partial-aggregated groupBy, no shuffle of
    document payloads."""
    d = load(spark, sf_dir, "documents")
    h = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)") % 100
    quota = (
        F.when(F.col("lang") == "en", 50).when(F.col("lang") == "zh", 30).otherwise(10)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(h < quota, 1).otherwise(0)).alias("n_sampled"),
    )


@register(
    "q_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, n_chars,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000000 AS h,
             LEAST(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS keep_p
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN h < keep_p * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN h < keep_p * 1000000 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept
    FROM w GROUP BY source
    """,
    category="text",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted sampling — corpus mixing where longer
    documents are proportionally likelier to survive (keep
    probability = min(1, n_chars/2000)). The accept decision compares
    a portable md5 uniform against the per-document weight, so the
    SAME documents are kept on every engine and every rerun — the
    reproducibility property that makes dataset ablations comparable.
    One scan, no payload shuffle; weights can come from any scoring
    column (quality, dedup cluster size, domain mix targets)."""
    d = load(spark, sf_dir, "documents")
    h = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    ) % 1000000
    keep_p = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(2000.0))
    kept = h < keep_p * 1000000
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("chars_kept"),
    )


@register(
    "q_keyword_extract",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    tok AS (
      SELECT doc_id, unnest(toks) AS term FROM t
    ),
    filt AS (SELECT doc_id, term FROM tok WHERE LENGTH(term) >= 4),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM filt GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM filt GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM filt),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, rk,
           FLOOR((score) * 10000 + 0.5) / 10000 AS score
    FROM ranked WHERE rk <= 3
    """,
    category="text",
)
def q_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF·(N/df) — the
    integer-ratio TF-IDF variant (no log, so the score is exact
    identical double arithmetic on both engines). Terms shorter than 4
    chars drop out (stopword-ish floor). Scale: tf is a partial-agged
    (doc, term) count; df is a (term) count joined back term-equi;
    the per-doc top-3 goes through WindowGroupLimit so each partition
    pre-prunes to its local 3 before the rank shuffle."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).filter(F.length("term") >= 4)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(n)
        .select(
            "doc_id",
            "term",
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias("score"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "rk", rnd("score", 4).alias("score"))
    )


@register(
    "q_grouped_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hv
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
      FROM h
    )
    SELECT lang, doc_id, rk FROM r WHERE rk <= 5
    """,
    category="text",
)
def q_grouped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group fixed-k deterministic sample: exactly 5 docs per
    language, chosen by hash order — the reservoir-sampling analogue
    that is reproducible across runs, engines, and append order
    changes that don't touch the sampled ids. Hash order is a uniform
    random permutation for any adversarial id distribution, and
    WindowGroupLimit pre-prunes each partition to its local 5 before
    the per-group shuffle — the same map-side-k mechanics a reservoir
    merge would hand-roll."""
    from pyspark.sql import Window as W

    from nimble_spark.functions.text_fns import hash60_sql_spark

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(hash60_sql_spark("CAST(doc_id AS STRING)")).alias("hv"),
    )
    w = W.partitionBy("lang").orderBy("hv", "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "doc_id", "rk")
    )


@register(
    "q_skew_report",
    oracle="""
    WITH c AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys,
             CAST(MAX(n) AS BIGINT) AS max_n
      FROM c
    ),
    r AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rk
      FROM c
    )
    SELECT r.user_id, CAST(r.n AS BIGINT) AS n_rows, r.rk,
           FLOOR((CAST(r.n AS DOUBLE) / t.total) * 1000000 + 0.5) / 1000000 AS share,
           FLOOR((CAST(t.max_n AS DOUBLE) * t.n_keys / t.total) * 10000 + 0.5) / 10000 AS skew_factor
    FROM r CROSS JOIN t WHERE r.rk <= 10
    """,
    category="statistics",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: the top-10 heavy-hitter keys with
    their row share, plus the global skew factor (max key count ÷ mean
    key count — 1.0 is perfectly uniform). This is the measurement
    that decides when to reach for the salted-join/agg operators
    (q_skew_salted_join/_agg) or AQE skew splitting: at 100 TB it runs
    as one partial-agged count per key plus a driver-size top-10."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
    )
    r = c.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "user_id"))
    ).filter(F.col("rk") <= 10)
    return r.crossJoin(t).select(
        "user_id",
        F.col("n").alias("n_rows"),
        "rk",
        rnd(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        rnd(F.col("max_n").cast("double") * F.col("n_keys") / F.col("total"), 4).alias(
            "skew_factor"
        ),
    )


@register(
    "q_lang_confusion",
    oracle=f"""
    WITH li AS ({_LANG_ID_DUCK}),
    cm AS (
      SELECT lang, pred, COUNT(*) AS n FROM li GROUP BY lang, pred
    ),
    per_true AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cm GROUP BY lang),
    per_pred AS (SELECT pred, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY pred)
    SELECT cm.lang, cm.pred, CAST(cm.n AS BIGINT) AS n,
           FLOOR((CAST(cm.n AS DOUBLE) / t.n_true) * 1000000 + 0.5) / 1000000 AS recall_cell,
           FLOOR((CAST(cm.n AS DOUBLE) / p.n_pred) * 1000000 + 0.5) / 1000000 AS precision_cell
    FROM cm
    JOIN per_true t ON t.lang = cm.lang
    JOIN per_pred p ON p.pred = cm.pred
    """,
    category="text",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID detector against the
    labeled corpus — the eval row every heuristic classifier needs
    before it gates a training mix: per (true, predicted) cell, the
    count plus its share of the true class (recall on the diagonal)
    and of the predicted class (precision on the diagonal). Composes
    the q_lang_id detector, so detector changes re-verify their eval
    for free; the rollup is two tiny broadcast joins over an
    already-aggregated matrix."""
    li = q_lang_id(spark, sf_dir).select("lang", "pred")
    cm = li.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("n"))
    per_true = cm.groupBy("lang").agg(F.sum("n").alias("n_true"))
    per_pred = cm.groupBy("pred").agg(F.sum("n").alias("n_pred"))
    return (
        cm.join(per_true, "lang")
        .join(per_pred, "pred")
        .select(
            "lang",
            "pred",
            "n",
            rnd(F.col("n").cast("double") / F.col("n_true"), 6).alias("recall_cell"),
            rnd(F.col("n").cast("double") / F.col("n_pred"), 6).alias("precision_cell"),
        )
    )


@register(
    "q_pareto_concentration",
    oracle="""
    WITH c AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    r AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rk,
             CAST(SUM(n) OVER (ORDER BY n DESC, user_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
             (SELECT CAST(SUM(n) AS BIGINT) FROM c) AS total,
             (SELECT COUNT(*) FROM c) AS n_users
      FROM c
    )
    SELECT rk, user_id, CAST(n AS BIGINT) AS n_events,
           FLOOR((CAST(cum_n AS DOUBLE) / total) * 1000000 + 0.5) / 1000000 AS cum_share,
           FLOOR((CAST(rk AS DOUBLE) / n_users) * 1000000 + 0.5) / 1000000 AS user_share
    FROM r WHERE rk <= 15
    """,
    category="statistics",
)
def q_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / Lorenz concentration: ranking entities by activity,
    what share of all events do the top k account for — the
    "top 1% of keys produce X% of rows" curve that quantifies both
    data skew (q_skew_report's heavy hitters, now cumulative) and
    corpus concentration risk. The per-key counts are partial-agged;
    the running share is a window over the TINY aggregated key table
    (one row per key), never over raw events."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = W.orderBy(F.col("n").desc(), "user_id")
    totals = c.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    r = (
        c.withColumn("rk", F.row_number().over(w))
        .withColumn("cum_n", F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .filter(F.col("rk") <= 15)
    )
    return r.crossJoin(totals).select(
        "rk",
        "user_id",
        F.col("n").alias("n_events"),
        rnd(F.col("cum_n").cast("double") / F.col("total"), 6).alias("cum_share"),
        rnd(F.col("rk").cast("double") / F.col("n_users"), 6).alias("user_share"),
    )


@register(
    "q_collocations",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    bi AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2 AND len(toks[i]) >= 3 AND len(toks[i + 1]) >= 3
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bi GROUP BY w1, w2),
    u1 AS (SELECT w1 AS w, COUNT(*) AS n FROM bi GROUP BY w1),
    u2 AS (SELECT w2 AS w, COUNT(*) AS n FROM bi GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM bi),
    scored AS (
      SELECT pc.w1, pc.w2, pc.n_pair,
             CAST(pc.n_pair AS DOUBLE) * tot.total / (u1.n * u2.n) AS lift
      FROM pc
      JOIN u1 ON u1.w = pc.w1
      JOIN u2 ON u2.w = pc.w2
      CROSS JOIN tot
      WHERE pc.n_pair >= 5
    ),
    r AS (
      SELECT w1, w2, n_pair, lift,
             row_number() OVER (
               ORDER BY FLOOR(lift * 1000000 + 0.5) / 1000000 DESC, w1, w2) AS rk
      FROM scored
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, rk,
           FLOOR((lift) * 10000 + 0.5) / 10000 AS lift
    FROM r WHERE rk <= 20
    """,
    category="text",
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent word pairs ranked by LIFT —
    n_pair·N / (n_left·n_right), the log-free PMI variant that stays
    exact double arithmetic on both engines (log-based PMI would
    diverge in libm). Pairs seen < 5 times drop (rare-pair lift is
    noise), short tokens drop (stopword-ish floor). The phrase-mining
    primitive behind tokenizer vocab seeding and multi-word-entity
    detection. Shape: one bigram explode (scan-local), two unigram
    rollups joined back word-equi, a tiny top-20."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    )
    bi = (
        d.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.length("w1") >= 3) & (F.length("w2") >= 3))
    )
    pc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    u1 = bi.groupBy(F.col("w1").alias("w")).agg(F.count(F.lit(1)).alias("n1"))
    u2 = bi.groupBy(F.col("w2").alias("w")).agg(F.count(F.lit(1)).alias("n2"))
    tot = bi.agg(F.count(F.lit(1)).alias("total"))
    scored = (
        pc.filter(F.col("n_pair") >= 5)
        .join(u1, pc.w1 == u1.w)
        .join(u2, pc.w2 == u2.w)
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "n_pair",
            (F.col("n_pair").cast("double") * F.col("total") / (F.col("n1") * F.col("n2"))).alias("lift"),
        )
    )
    r = scored.withColumn(
        "rk", F.row_number().over(W.orderBy(rnd("lift", 6).desc(), "w1", "w2"))
    ).filter(F.col("rk") <= 20)
    return r.select("w1", "w2", "n_pair", "rk", rnd("lift", 4).alias("lift"))


@register(
    "q_vocab_growth",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    th AS (SELECT CAST(v AS BIGINT) AS cutoff FROM unnest([100, 200, 300, 400, 500]) AS u(v))
    SELECT th.cutoff,
           CAST(COUNT(DISTINCT CASE WHEN tok.doc_id < th.cutoff THEN tok.w END) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN tok.doc_id < th.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens
    FROM th CROSS JOIN tok
    GROUP BY th.cutoff
    """,
    category="text",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): distinct token types vs
    corpus prefix size at five cutoffs — the measurement that sizes a
    tokenizer vocabulary and predicts how much new text still grows
    it. One pass: tokens cross-join the tiny cutoff list (5 rows
    broadcast) and aggregate conditionally per cutoff, so the corpus
    is read once, not once per point on the curve."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    )
    tok = d.select("doc_id", F.explode("toks").alias("w"))
    cutoffs = spark.range(1, 6).select((F.col("id") * 100).alias("cutoff"))
    return (
        tok.crossJoin(cutoffs)
        .groupBy("cutoff")
        .agg(
            F.countDistinct(
                F.when(F.col("doc_id") < F.col("cutoff"), F.col("w"))
            ).alias("vocab"),
            F.sum(F.when(F.col("doc_id") < F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
