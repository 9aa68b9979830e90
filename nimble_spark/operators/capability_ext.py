"""Registry entries for capability surfaces that previously lived only
in library modules + pytest: flat maps, deduplicated array/map storage,
delete masks, Arrow serde, multimodal plumbing, and streaming windows.

Each query exercises the real library code path (sources/flatmap.py,
sources/deletes.py, sources/serde.py, operators/multimodal.py,
streaming/windows.py) and, where SQL-expressible, ships a DuckDB oracle
so the driver's differential gate covers it. Streaming entries carry
batch-equivalence oracles: a fully-drained bounded stream must equal
the corresponding batch computation (and q_stream_late_data drains a
multi-batch replay where watermark drops are part of that equality).

Reference parity (SURVEY.md §1.3, §2.1, §2.3):
- FlatMap: dwio/nimble/velox/FieldWriter.cpp:1415 (write),
  selective/FlatMapColumnReader.cpp (read).
- ArrayWithOffsets / SlidingWindowMap dedup: FieldWriter.cpp:2177,
  FieldWriter.cpp:953-1077.
- Mutation-at-scan deletes: selective/SelectiveNimbleReader.cpp:334-338.
- Serializer/Deserializer: serializer/Serializer.h:33-56.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import dsum, dsum_sql, rnd
from nimble_spark.registry import register
from nimble_spark.sources.deletes import delete_rows, read_with_deletes
from nimble_spark.sources.flatmap import (
    dedup_array_column,
    flatten_map_column,
    restore_array_column,
    restore_map_column,
)
from nimble_spark.sources.cache import ensure_cached
from nimble_spark.sources.serde import deserialize_partitioned, serialize_partitioned
from nimble_spark.sources.table import WriteOptions, write_table
from nimble_spark.tables import load


def _props_map() -> F.Column:
    return F.from_json("props", "map<string,bigint>")


# ---------------------------------------------------------------------------
# FlatMap: map column exploded into per-key value + presence columns
# ---------------------------------------------------------------------------


@register(
    "q_flatmap_project",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS pm__k,
           json_extract(props, '$.k') IS NOT NULL     AS pm__k__in
    FROM events
    """,
    category="flatmap",
)
def q_flatmap_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-map key projection: the map column is stored exploded into
    per-key (value, inMap) columns; projecting key `k` touches only
    those two streams — Catalyst prunes the rest."""
    ev = load(spark, sf_dir, "events").select("event_id", _props_map().alias("pm"))
    flat, _keys = flatten_map_column(ev, "pm", keys=["k"])
    return flat.select(
        "event_id",
        F.col("pm__k"),
        F.coalesce(F.col("pm__k__in"), F.lit(False)).alias("pm__k__in"),
    )


@register(
    "q_flatmap_roundtrip",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
    category="flatmap",
)
def q_flatmap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full flat-map storage round trip: the map column is written
    flat (per-key streams, dynamic key discovery at WRITE time, key
    set persisted in the manifest), then read back and restored to
    map<K,V> using the manifest keys — no discovery scan at read,
    present-null vs absent-key preserved (inMap semantics)."""
    from nimble_spark.sources.flatmap import read_flatmap_table, write_flatmap_table

    def _build(tmp: str) -> None:
        ev = load(spark, sf_dir, "events").select("event_id", _props_map().alias("pm"))
        write_flatmap_table(ev, "pm", tmp)

    path = ensure_cached(sf_dir, "events_flatmap", ["events"], _build)
    back = read_flatmap_table(spark, path, "pm")
    return back.select("event_id", F.element_at("pm", "k").alias("k_value"))


# ---------------------------------------------------------------------------
# Deduplicated array storage (ArrayWithOffsets analogue)
# ---------------------------------------------------------------------------


@register(
    "q_array_dedup_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT embedding) AS n_distinct
    FROM embeddings
    """,
    category="dedup_storage",
)
def q_array_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary stats of the dedup'd array column: rows keep an int
    ref; the dictionary holds each distinct array once (the storage
    saving the reference gets from ArrayWithOffsets)."""
    emb = load(spark, sf_dir, "embeddings")
    main, dictionary = dedup_array_column(emb, "embedding")
    # one distributed plan, no driver-side actions: both counts are
    # single-row aggregates, so the cross join is a trivial BNL
    return main.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
        dictionary.agg(F.count(F.lit(1)).alias("n_distinct"))
    )


@register(
    "q_array_dedup_roundtrip",
    oracle="""
    SELECT vec_id,
           FLOOR((CAST(embedding[1] AS DOUBLE)) * 10000 + 0.5) / 10000 AS e0,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
    category="dedup_storage",
)
def q_array_dedup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup → restore round trip: the ref column joins the broadcast
    dictionary back into the logical array column losslessly."""
    emb = load(spark, sf_dir, "embeddings")
    main, dictionary = dedup_array_column(emb, "embedding")
    back = restore_array_column(main, dictionary, "embedding")
    return back.select(
        "vec_id",
        rnd(F.element_at("embedding", 1).cast("double"), 4).alias("e0"),
        F.size("embedding").cast("long").alias("dim"),
    )


@register(
    "q_map_dedup_roundtrip",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
    category="dedup_storage",
)
def q_map_dedup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated map storage (SlidingWindowMap analogue,
    dwio/nimble/velox/FieldWriter.cpp:953-1077): identical maps stored
    once in a dictionary, rows keep an int ref; restore is a broadcast
    join. Dedup here is global-per-write (strictly stronger than the
    reference's consecutive-window sharing, same logical round trip)."""
    ev = load(spark, sf_dir, "events").select("event_id", _props_map().alias("pm"))
    main, dictionary = dedup_array_column(ev, "pm")
    back = restore_array_column(main, dictionary, "pm")
    return back.select("event_id", F.element_at("pm", "k").alias("k_value"))


# ---------------------------------------------------------------------------
# Delete masks at scan (Mutation analogue)
# ---------------------------------------------------------------------------

_DELETE_KEYS = [0, 1, 2, 3, 4]


@register(
    "q_delete_mask_scan",
    oracle=f"""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id NOT IN ({", ".join(map(str, _DELETE_KEYS))})
    GROUP BY lang
    """,
    category="format",
)
def q_delete_mask_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with delete masks: deletes are persisted keysets applied as
    a broadcast anti-join at read — data files never rewritten."""

    def _build(tmp: str) -> None:
        write_table(load(spark, sf_dir, "documents"), tmp, WriteOptions())
        delete_rows(spark, tmp, "doc_id", _DELETE_KEYS)

    path = ensure_cached(sf_dir, "documents__deletable", ["documents"], _build)
    df = read_with_deletes(spark, path)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )


@register(
    "q_delete_compaction",
    oracle=f"""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
           TRUE AS masks_cleared
    FROM documents
    WHERE doc_id NOT IN ({", ".join(map(str, _DELETE_KEYS))})
    GROUP BY lang
    """,
    category="format",
)
def q_delete_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-mask materialization ('compaction = rewrite + clear'):
    the masks are applied physically in a staged rewrite, the deletes
    dir is cleared, and a PLAIN scan — no anti-join — must now equal
    the masked view. Run when accumulated masks start to tax every
    read; afterwards scan cost is back to a bare scan."""
    import os

    from nimble_spark.sources.deletes import DELETES_DIR, compact_deletes
    from nimble_spark.sources.table import read_table

    def _build(tmp: str) -> None:
        write_table(load(spark, sf_dir, "documents"), tmp, WriteOptions())
        delete_rows(spark, tmp, "doc_id", _DELETE_KEYS)
        compact_deletes(spark, tmp)

    path = ensure_cached(sf_dir, "documents__del_compacted", ["documents"], _build)
    cleared = not os.path.isdir(os.path.join(path, DELETES_DIR))
    df = read_table(spark, path)  # plain scan: masks are gone
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.lit(bool(cleared)).alias("masks_cleared"),
    )


# ---------------------------------------------------------------------------
# Arrow IPC serde (Serializer/Deserializer analogue)
# ---------------------------------------------------------------------------


@register(
    "q_serde_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    category="format",
)
def q_serde_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame → per-partition Arrow IPC payload rows → DataFrame
    round trip, fully distributed (serialize_partitioned /
    deserialize_partitioned — each partition encodes and decodes its
    own batch; no bytes ever pass through the driver). The
    engine-to-engine batch transport surface."""
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    payloads = serialize_partitioned(nation.coalesce(2))
    return deserialize_partitioned(
        payloads, "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (decode kernels stubbed; Spark-side shapes real)
# ---------------------------------------------------------------------------

_N_MEDIA = 64


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize-once media table: the driver-side payload encoding
    (pure-Python PPM/WAV/RAWVID) runs once per sf and lands in the
    parquet cache; every multimodal query then scans parquet and
    spends its time in the decode stage under test."""
    from nimble_spark.operators.multimodal import synthesize_media

    path = ensure_cached(
        sf_dir, "media64", [],
        lambda tmp: synthesize_media(spark, _N_MEDIA).write.parquet(tmp),
    )
    return spark.read.parquet(path).coalesce(4)


@register(
    "q_multimodal_features",
    oracle=f"""
    SELECT i AS media_id,
           CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(CASE
             WHEN i % 3 = 0 THEN 9 + LENGTH(CAST(64 + (i % 8) * 32 AS VARCHAR))
                                 + LENGTH(CAST(64 + (i % 5) * 32 AS VARCHAR))
                                 + 3 * (64 + (i % 8) * 32) * (64 + (i % 5) * 32)
             WHEN i % 3 = 1 THEN 44 + 2 * (1600 * (1 + i % 5))
             ELSE 8 + 207 * (30 * (1 + i % 10))
           END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN i % 3 = 0 THEN 64 + (i % 8) * 32 END AS INTEGER) AS decoded_width,
           CAST(CASE WHEN i % 3 = 0 THEN 64 + (i % 5) * 32 END AS INTEGER) AS decoded_height,
           CAST(CASE WHEN i % 3 = 1 THEN 16000 END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN i % 3 = 1 THEN 1600 * (1 + i % 5) END AS BIGINT) AS n_samples,
           CAST(CASE WHEN i % 3 = 2 THEN 30 * (1 + i % 10) END AS INTEGER) AS n_frames
    FROM range({_N_MEDIA}) t(i)
    """,
    category="multimodal",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary-column decode through mapInPandas (Arrow batches):
    PPM/WAV/RAWVID payloads are parsed byte-for-byte in the Python
    stage, and the decoded structure (dims, sample counts, frame
    counts, exact payload sizes) must match the oracle's closed-form
    synthesis formulas — proving the bytes were actually decoded, not
    echoed from metadata."""
    from nimble_spark.operators.multimodal import extract_features

    media = _media_table(spark, sf_dir)
    feats = extract_features(media, decode="real")
    return feats.select(
        "media_id", "kind", "n_bytes",
        "decoded_width", "decoded_height", "sample_rate", "n_samples", "n_frames",
    )


@register(
    "q_frame_sample",
    oracle=f"""
    WITH v AS (SELECT i FROM range({_N_MEDIA}) t(i) WHERE i % 3 = 2)
    SELECT i AS media_id,
           unnest(range(0, CAST(30 * (1 + i % 10) AS BIGINT), 10)) AS frame_idx,
           CAST(8 AS INTEGER) AS frame_w,
           CAST(8 AS INTEGER) AS frame_h
    FROM v
    """,
    category="multimodal",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling with REAL container + frame decode: the
    RAWVID stream is walked, every 10th PPM frame is parsed, and the
    decoded frame dimensions must match the synthesis formulas."""
    from nimble_spark.operators.multimodal import sample_frames

    media = _media_table(spark, sf_dir)
    frames = sample_frames(media, every_n=10, decode="real")
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_w",
        "frame_h",
    )


@register(
    "q_resize_plumbing",
    oracle=f"""
    SELECT i AS media_id,
           CAST(64 AS BIGINT) AS out_width,
           CAST(64 AS BIGINT) AS out_height,
           CAST(9 + 2 + 2 + 3 * 64 * 64 AS BIGINT) AS n_bytes
    FROM range({_N_MEDIA}) t(i) WHERE i % 3 = 0
    """,
    category="multimodal",
)
def q_resize_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: each PPM payload is decoded, nearest-neighbor
    resampled to 64×64, and re-encoded as PPM; the kind filter stays
    JVM-side. The output payload size is the exact PPM encoding size
    (header + 3·64·64), byte-checked by the oracle."""
    from nimble_spark.operators.multimodal import resize_images

    media = _media_table(spark, sf_dir)
    out = resize_images(media, 64, 64, decode="real")
    return out.select(
        "media_id",
        F.col("out_width").cast("long").alias("out_width"),
        F.col("out_height").cast("long").alias("out_height"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


@register(
    "q_audio_clip",
    oracle=f"""
    SELECT i AS media_id,
           CAST(LEAST(4800, 1600 * (1 + i % 5)) - 800 AS BIGINT) AS clip_samples,
           CAST(44 + 2 * (LEAST(4800, 1600 * (1 + i % 5)) - 800) AS BIGINT) AS clip_bytes
    FROM range({_N_MEDIA}) t(i) WHERE i % 3 = 1
    """,
    category="multimodal",
)
def q_audio_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segment extraction (training-pipeline clip step): WAV
    payloads decode, slice [0.05 s, 0.30 s) at their own sample rate,
    and re-encode. The synthesized audio tracks are 1600·(1+i%5)
    samples at 16 kHz, so clip length and the re-encoded WAV byte
    size (44-byte header + 2 bytes/sample) have closed forms the
    oracle checks — proving the samples were really cut, not
    counted."""
    from nimble_spark.operators.multimodal import clip_audio

    media = _media_table(spark, sf_dir)
    clips = clip_audio(media, 0.05, 0.30)
    return clips.select("media_id", "clip_samples", "clip_bytes")


# ---------------------------------------------------------------------------
# Structured Streaming — batch-equivalence oracles. The streams are
# file-backed and driven to completion, so the final memory-sink state
# must equal the same aggregation run as a batch query; DuckDB computes
# that batch form directly over the parquet.
# ---------------------------------------------------------------------------


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n, SUM(value) AS sum_v
    FROM events
    GROUP BY 1, 2
    """,
    category="streaming",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts over the file-backed events
    stream, driven to completion into a memory sink. Oracle: Spark's
    window('1 hour') is epoch-aligned, i.e. date_trunc('hour') in
    batch; completing the stream must reproduce the batch aggregate
    exactly (nothing is late relative to a fully-drained source)."""
    from nimble_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        tumbling_counts,
    )

    stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return run_to_completion(tumbling_counts(stream), "rq_stream_tumbling")


@register(
    "q_stream_sliding",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS bkt FROM events
    ),
    w AS (
      SELECT bkt AS win_start FROM b
      UNION ALL
      SELECT bkt - INTERVAL '30 minutes' FROM b
    )
    SELECT win_start, COUNT(*) AS n FROM w GROUP BY win_start
    """,
    category="streaming",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 h width, 30 min slide), driven to
    completion. Oracle: Spark's sliding windows are epoch-aligned at
    the slide granularity, so each event lands in exactly two window
    starts — its 30-min bucket and the one before it."""
    from nimble_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        sliding_counts,
    )

    stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return run_to_completion(sliding_counts(stream), "rq_stream_sliding")


@register(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT MIN(ts) AS session_start, user_id,
           COUNT(*) AS n, SUM(value) AS sum_v
    FROM sess GROUP BY user_id, sid
    """,
    category="streaming",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) with watermarked state.
    Oracle: gap-based sessionization via LAG — a session breaks when
    the gap is >= 30 min (session_window merges windows only on strict
    overlap), session_start is the first event's ts."""
    from nimble_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        session_aggregate,
    )

    stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return run_to_completion(session_aggregate(stream), "rq_stream_session")


@register(
    "q_stream_stream_join",
    oracle="""
    WITH a AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id
    FROM a JOIN b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts < a.ts + INTERVAL '30 minutes'
    """,
    category="streaming",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (click → purchase within
    30 min per user), driven to completion in append mode. The oracle
    is the identical batch join: a fully-drained bounded source must
    emit exactly the batch-join pairs — no duplicates from state
    re-emission, no rows lost to watermark eviction."""
    from nimble_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stream_stream_join,
    )

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    left = read_events_stream(spark, path)
    right = read_events_stream(spark, path)
    return run_to_completion(stream_stream_join(left, right), "rq_stream_stream_join")


@register(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(value) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
    category="streaming",
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) counters sharded by key. Oracle: the source
    is a single file => one micro-batch, so the update-mode output is
    exactly one final (count, sum) row per user — the batch groupBy."""
    from nimble_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_user_counts,
    )

    stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return run_to_completion(stateful_user_counts(stream), "rq_stream_stateful")


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    category="streaming",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup — dropDuplicates over an unbounded file
    stream, the streaming-ingest arm of the corpus dedup family: each
    arriving shard's rows are emitted only if their key was never seen
    (state sharded by key across executors; at 100 TB add a watermark
    + dropDuplicatesWithinWatermark to bound state). Deduping on the
    FULL projected row keeps first-arrival nondeterminism irrelevant,
    so the batch DISTINCT oracle matches exactly."""
    from nimble_spark.streaming.windows import read_events_stream, run_to_completion

    stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    deduped = stream.select("user_id", "event_type").dropDuplicates()
    return run_to_completion(deduped, "rq_stream_dedup")


@register(
    "q_stream_incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      FROM documents WHERE doc_id % 2 = 0 GROUP BY md5(text)
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN c.h IS NULL THEN 'novel' ELSE 'dup' END AS status,
           c.keep_id AS corpus_id
    FROM documents d LEFT JOIN corpus c ON md5(d.text) = c.h
    WHERE d.doc_id % 2 = 1
    """,
    category="streaming",
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest dedup against a STATIC corpus index: incoming
    document shards (the odd-doc_id half, arriving as file
    micro-batches) stream-static-join the existing corpus's digest
    table (the even half — in deployment the persisted index of
    q_signature_index_probe) and every arrival is tagged dup/novel.
    The static side is a 16-byte-digest table that broadcasts under
    the session threshold; at 100 TB it becomes a shuffled
    stream-static join on the digest. A fully-drained bounded stream
    must reproduce the batch left join exactly."""
    from nimble_spark.streaming.windows import read_documents_stream, run_to_completion

    corpus = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"))
    )
    stream = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet"
    ).filter(F.col("doc_id") % 2 == 1)
    tagged = (
        stream.select("doc_id", "lang", F.md5("text").alias("h"))
        .join(corpus, "h", "left")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("keep_id").isNull(), F.lit("novel"))
            .otherwise(F.lit("dup"))
            .alias("status"),
            F.col("keep_id").alias("corpus_id"),
        )
    )
    # Explicit append: the static corpus side aggregates (digest
    # groupBy), which would fool the plan-sniffed mode into complete.
    return run_to_completion(tagged, "rq_stream_incremental_dedup", mode="append")


@register(
    "q_stream_quality_agg",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
    FROM documents GROUP BY lang
    """,
    category="streaming",
)
def q_stream_quality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus-quality rollup: documents arrive as file
    micro-batches, per-language counters aggregate in complete mode
    (production: watermarked windows + update sink). The full-stream
    aggregate equals the batch aggregate, so the DuckDB oracle is an
    exact differential check — the streaming surface is held to the
    same hash gate as batch."""
    from nimble_spark.streaming.windows import read_documents_stream, run_to_completion

    stream = read_documents_stream(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum((F.length("text") >= 200).cast("int")).cast("long").alias("n_long"),
    )
    return run_to_completion(agg, "rq_stream_quality_agg")


@register(
    "q_stream_sink_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value")} AS total
    FROM events GROUP BY event_type
    """,
    category="streaming",
)
def q_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SINK round-trip: the events stream is written into a
    nimble table via foreachBatch appends (streaming/sink.py — each
    micro-batch is an append commit that refreshes the manifest, the
    C++ writer's append-only stripe discipline), then the table is
    batch-read and aggregated against the source parquet. Proves the
    stream → table → scan path is lossless, checkpointed, and leaves
    pruning-ready stats behind."""
    import os

    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.sources.table import read_table
    from nimble_spark.streaming.sink import stream_to_table
    from nimble_spark.streaming.windows import read_events_stream

    def build(tmp: str) -> None:
        stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
        q = stream_to_table(
            stream.drop("ts"),  # nanos ts re-derivable; drop to keep sink schema plain
            os.path.join(tmp, "table"),
            checkpoint=os.path.join(tmp, "ckpt"),
        )
        q.awaitTermination()

    root = ensure_cached(sf_dir, "events__stream_sink", ["events"], build)
    df = read_table(spark, os.path.join(root, "table"))
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total")
    )


@register(
    "q_stream_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n,
           FLOOR(SUM(e.value) * 1000000 + 0.5) / 1000000 AS sum_v
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    category="streaming",
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins a static
    dimension (customer) — the dimension broadcasts to every
    micro-batch, no streaming state at all (the cheapest streaming
    join shape; use it over stream-stream whenever one side is
    bounded). Aggregated per market segment; oracle is the batch
    join."""
    from nimble_spark.streaming.windows import read_events_stream, run_to_completion
    from nimble_spark.tables import load

    stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.join(dim, "user_id").groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum("value"), 6).alias("sum_v"),
    )
    return run_to_completion(joined, "rq_stream_enrich")


@register(
    "q_stream_upsert",
    oracle="""
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    category="streaming",
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink (merge-on-read, append-only): the events
    stream upserts keyed by user_id with (ts, event_id) recency
    ordering; reading the table back resolves latest-per-key. The
    oracle is the batch 'latest event per user' — the sink's
    winner-per-batch + commit-shadowing must compose to exactly
    that."""
    import os

    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.streaming.sink import read_upserted, stream_upsert_to_table
    from nimble_spark.streaming.windows import read_events_stream

    def build(tmp: str) -> None:
        stream = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
        q = stream_upsert_to_table(
            stream.select("user_id", "event_id", "ts", "value"),
            os.path.join(tmp, "table"),
            key="user_id",
            order_cols=["ts", "event_id"],
            checkpoint=os.path.join(tmp, "ckpt"),
        )
        q.awaitTermination()

    root = ensure_cached(sf_dir, "events__stream_upsert", ["events"], build)
    df = read_upserted(
        spark, os.path.join(root, "table"), key="user_id", order_cols=["ts", "event_id"]
    )
    return df.select("user_id", "event_id", "value")


@register(
    "q_timestamp_nanos_roundtrip",
    oracle="""
    WITH src AS (
      SELECT epoch_us(ts) * 1000 + event_id % 1000 AS ns FROM events
    )
    SELECT COUNT(*) AS n, MIN(ns) AS min_ns, MAX(ns) AS max_ns,
           CAST(SUM(ns % 1000) AS BIGINT) AS resid_sum,
           COUNT(DISTINCT ns % 1000) AS resid_ndv
    FROM src
    """,
    category="format",
)
def q_timestamp_nanos_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimestampMicroNano parity (SURVEY §1.3; writer
    dwio/nimble/velox/FieldWriter.cpp:514): nanosecond timestamps
    survive storage as a micros TimestampType column + a 0..999
    ShortType residual sidecar, and restore to the exact int64 nanos.
    The corpus's own residuals are all zero, so deterministic nonzero
    residuals are derived from event_id (same formula on both engines);
    the split columns go through a real write_table/read parquet
    roundtrip before restoration."""
    from nimble_spark.sources.table import read_table
    from nimble_spark.sources.timestamps import (
        restore_timestamp_nanos,
        split_timestamp_nanos,
    )

    e = load(spark, sf_dir, "events")
    ns = (F.unix_micros("ts") * 1000 + F.pmod("event_id", F.lit(1000))).alias("ns")
    src = e.select(ns.cast("long").alias("ns"))
    split = split_timestamp_nanos(src, "ns")

    path = ensure_cached(
        sf_dir, "events_ts_nanos", ["events"],
        lambda tmp: write_table(split, tmp, WriteOptions()),
    )
    back = restore_timestamp_nanos(read_table(spark, path), "ns")
    resid = F.pmod("ns", F.lit(1000))
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ns").alias("min_ns"),
        F.max("ns").alias("max_ns"),
        F.sum(resid).alias("resid_sum"),
        F.countDistinct(resid).alias("resid_ndv"),
    )


@register(
    "q_shared_dictionary_roundtrip",
    oracle="""
    SELECT source, lang, COUNT(*) AS n,
           (SELECT COUNT(DISTINCT source) FROM documents) AS n_codes
    FROM documents
    GROUP BY source, lang
    """,
    category="format",
)
def q_shared_dictionary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SharedDictionary encoding parity (enum 22,
    dwio/nimble/encodings/SharedDictionaryEncoding.h:53-189): the
    documents.source column is rewritten as int codes into a global
    alphabet side table; codes table and alphabet table both go
    through real table storage, are read back, decoded via broadcast
    join, and must aggregate identically to the never-encoded column.
    n_codes proves the alphabet holds exactly NDV entries."""
    from nimble_spark.sources.shared_dictionary import (
        decode_shared_dictionary,
        encode_shared_dictionary,
    )
    from nimble_spark.sources.table import read_table

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    enc, alphabet = encode_shared_dictionary(d, "source")

    def _build(tmp: str) -> None:
        # codes + alphabet live under ONE cache dir so they can never
        # be cached inconsistently with each other
        write_table(enc, os.path.join(tmp, "codes"), WriteOptions())
        write_table(alphabet, os.path.join(tmp, "alphabet"), WriteOptions())

    base = ensure_cached(sf_dir, "shared_dict", ["documents"], _build)
    enc_r = read_table(spark, os.path.join(base, "codes"))
    dict_r = read_table(spark, os.path.join(base, "alphabet"))
    dec = decode_shared_dictionary(enc_r, dict_r, "source")
    n_codes = dict_r.agg(F.count(F.lit(1)).cast("long").alias("n_codes"))
    return (
        dec.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(n_codes)
    )


@register(
    "q_json_source_scan",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           {dsum_sql("value")} AS total
    FROM events GROUP BY event_type
    """,
    category="source",
)
def q_json_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format source surface (SURVEY §2.1 last row: Hadoop FS /
    format connectors are free in Spark, vs. the reference's
    Nimble-files-only reader): the events table rides a JSON-lines
    copy, read back with an explicit schema (no sampling-based
    inference at scale) and must aggregate identically to the parquet
    original. The JSONL copy is written once per sf (cached)."""
    cols = ("event_id", "user_id", "event_type", "value")
    path = ensure_cached(
        sf_dir, "events_jsonl", ["events"],
        lambda tmp: load(spark, sf_dir, "events").select(*cols).write.mode("overwrite").json(tmp),
    )
    schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    j = spark.read.schema(schema).json(path)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("total"),
    )


@register(
    "q_csv_source_scan",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_d,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_d
    FROM orders GROUP BY o_orderstatus
    """,
    category="source",
)
def q_csv_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector parity: orders rides a header-less CSV copy with
    an explicit schema and ISO timestamp format (inference and header
    scans are per-file costs you never pay at 100 TB), and must
    aggregate identically to the parquet original."""
    path = ensure_cached(
        sf_dir, "orders_csv_iso", ["orders"],
        # serialize the timestamp explicitly: CSV timestamp formatting
        # differs between LTZ/NTZ writers, and an at-scale pipeline
        # pins the wire format rather than trusting writer defaults
        lambda tmp: load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .csv(tmp),
    )
    schema = "o_orderkey BIGINT, o_orderstatus STRING, o_orderdate TIMESTAMP"
    c = (
        spark.read.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )
    return c.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderdate").alias("first_d"),
        F.max("o_orderdate").alias("last_d"),
    )


@register(
    "q_stream_changes",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders GROUP BY 1
    """,
    category="streaming",
)
def q_stream_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC source (sources/datasource.py
    NimbleStreamReader): `spark.readStream.format("nimble")` consumes
    the table's COMMIT LOG — each micro-batch is exactly the file
    additions of new commits, offsets are commit indices stored in
    the checkpoint. Here a two-commit table (base write + delta
    append) streams to completion; the drained aggregate must equal
    the batch aggregate over all commits. The restart-safe increment
    mechanics (same checkpoint → only new commits) are pytest-gated
    in tests/test_table_connector.py."""
    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.sources.datasource import register_nimble_source
    from nimble_spark.sources.table import WriteOptions, write_table
    from nimble_spark.streaming.windows import run_to_completion

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        write_table(o.filter(F.col("o_orderkey") % 3 != 0), tmp, WriteOptions())
        write_table(
            o.filter(F.col("o_orderkey") % 3 == 0), tmp, WriteOptions(), mode="append"
        )

    path = ensure_cached(sf_dir, "orders__cdc_source", ["orders"], _build)
    register_nimble_source(spark)
    stream = spark.readStream.format("nimble").load(path)
    agg = stream.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_custkey").alias("cust_sum")
    )
    return run_to_completion(agg, "rq_stream_changes")


_AHASH_DUCK = f"""
    WITH img AS (
      SELECT i, CAST(64 + (i % 8) * 32 AS BIGINT) AS w, CAST(64 + (i % 5) * 32 AS BIGINT) AS h,
             sha256(concat('42:', CAST(i AS VARCHAR))) AS hx
      FROM range({_N_MEDIA}) t(i) WHERE i % 3 = 0
    ),
    q AS (
      SELECT i, w, h, hx, unnest(generate_series(0, w * h - 1)) AS q
      FROM img
    ),
    g AS (
      SELECT i, w, h,
             CAST(concat('0x', substr(hx, CAST(2 * ((3 * q) % 32) + 1 AS INT), 2)) AS BIGINT)
           + CAST(concat('0x', substr(hx, CAST(2 * ((3 * q + 1) % 32) + 1 AS INT), 2)) AS BIGINT)
           + CAST(concat('0x', substr(hx, CAST(2 * ((3 * q + 2) % 32) + 1 AS INT), 2)) AS BIGINT) AS gray,
             (((q // w) * 4) // h) * 4 + ((q % w) * 4) // w AS blk
      FROM q
    ),
    blocks AS (
      SELECT i, MIN(w) AS w, MIN(h) AS h, blk,
             CAST(SUM(gray) AS DOUBLE) / (COUNT(*) * 3) AS m
      FROM g GROUP BY i, blk
    ),
    gm AS (SELECT i, SUM(m) / 16 AS gm FROM blocks GROUP BY i)
    SELECT b.i AS media_id,
           CAST(MIN(b.w) AS INTEGER) AS width,
           CAST(MIN(b.h) AS INTEGER) AS height,
           CAST(SUM(CASE WHEN b.m > gm.gm THEN CAST(1 AS BIGINT) << CAST(b.blk AS INT) ELSE 0 END) AS BIGINT) AS ahash
    FROM blocks b JOIN gm ON gm.i = b.i
    GROUP BY b.i
"""


@register("q_image_ahash", oracle=_AHASH_DUCK, category="multimodal")
def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual hash (average-hash, 4×4 grid → 16 bits) over
    REAL decoded PPM pixels — the image near-dup primitive: visually
    identical images land on the same (or Hamming-close) hash. The
    oracle recomputes every pixel from the synthesis formula in SQL
    (digest-byte indexing → grayscale → integer block sums → block
    mean vs global mean), so a hash match proves the kernel read the
    actual pixel bytes, block-mapped them, and thresholded exactly —
    the strongest decode proof in the multimodal family."""
    from nimble_spark.operators.multimodal import image_ahash

    media = _media_table(spark, sf_dir)
    return image_ahash(media)


_IMG_HAM_THR = 3


@register(
    "q_image_neardup",
    oracle=f"""
    WITH ah AS ({_AHASH_DUCK})
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.ahash, b.ahash)) AS hamming
    FROM ah a JOIN ah b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= {_IMG_HAM_THR}
    """,
    category="multimodal",
)
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: perceptual aHash within Hamming
    distance 3 — the visual arm of the dedup family (re-encoded,
    resized, or slightly-edited images keep a nearby hash). The Spark
    side is the SimHash banding pattern over the 16-bit hash: 4 × 4-bit
    bands; by pigeonhole any pair within Hamming 3 agrees on ≥ 1 band,
    so the band-equi join finds every qualifying pair while carving
    the corpus into per-band buckets (the oracle verifies with the
    plain quadratic join — identical pairs by the pigeonhole argument).
    Each pair is emitted at its FIRST matching band (free post-join
    filter), so no DISTINCT shuffle; at 100 TB the join key is
    (band, 4 bits) per image — 2 ints in flight, payloads never move."""
    sig = q_image_ahash(spark, sf_dir).select("media_id", "ahash")
    bands = sig.select(
        "media_id",
        "ahash",
        F.posexplode(
            F.array(
                *[F.shiftright("ahash", 4 * j).bitwiseAND(F.lit(15)) for j in range(4)]
            )
        ).alias("j", "bv"),
    )
    a = bands.hint("shuffle_hash").alias("a")
    b = bands.hint("shuffle_hash").alias("b")

    def _band(side: str, k: int):
        return F.shiftright(F.col(f"{side}.ahash"), 4 * k).bitwiseAND(F.lit(15))

    first_match = F.lit(True)
    for k in range(3):
        first_match = first_match & (
            (F.col("a.j") <= k) | (_band("a", k) != _band("b", k))
        )
    ham = F.expr("bit_count(a.ahash ^ b.ahash)")
    return (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .filter(first_match)
        .filter(ham <= _IMG_HAM_THR)
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            ham.alias("hamming"),
        )
    )


@register(
    "q_video_motion",
    oracle=f"""
    WITH v AS (
      SELECT i, CAST(30 * (1 + i % 10) AS BIGINT) AS nf
      FROM range({_N_MEDIA}) t(i) WHERE i % 3 = 2
    ),
    p AS (SELECT i, nf, unnest(generate_series(0, nf - 2)) AS fi FROM v),
    d AS (
      SELECT i, nf, 5 * abs((fi % 256) - ((fi + 1) % 256)) AS delta FROM p
    )
    SELECT i AS media_id,
           CAST(MIN(nf) AS INTEGER) AS n_frames,
           CAST(SUM(delta) AS BIGINT) AS total_motion,
           CAST(MAX(delta) AS BIGINT) AS max_motion
    FROM d GROUP BY i
    """,
    category="multimodal",
)
def q_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video motion profile — Σ|pixel delta| between consecutive
    decoded frames, the scene-cut / keyframe-sampling signal. The
    synthesis stamps each frame with its index in a 33-byte repeating
    pattern, so the oracle derives every pairwise delta in closed
    form (5 stamped bytes per 192-byte frame); a match proves the
    kernel walked the container, decoded every frame, and differenced
    real pixels — including the 255→0 wraparound spike in the longest
    videos."""
    from nimble_spark.operators.multimodal import video_motion

    media = _media_table(spark, sf_dir)
    return video_motion(media)


@register(
    "q_audio_loudness",
    oracle=f"""
    WITH a AS (
      SELECT i, CAST(1600 * (1 + i % 5) AS BIGINT) AS ns,
             sha256(concat('42:', CAST(i AS VARCHAR))) AS hx
      FROM range({_N_MEDIA}) t(i) WHERE i % 3 = 1
    ),
    s AS (SELECT i, ns, hx, unnest(generate_series(0, ns - 1)) AS j FROM a),
    v AS (
      SELECT i, ns,
             CAST(concat('0x', substr(hx, CAST(2 * ((2 * j) % 32) + 1 AS INT), 2)) AS BIGINT)
           + 256 * CAST(concat('0x', substr(hx, CAST(2 * ((2 * j) % 32 + 1) + 1 AS INT), 2)) AS BIGINT) AS u
      FROM s
    ),
    sv AS (SELECT i, ns, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS x FROM v)
    SELECT i AS media_id,
           CAST(MIN(ns) AS BIGINT) AS n_samples,
           FLOOR(sqrt(CAST(SUM(x * x) AS DOUBLE) / MIN(ns)) / 32768 * 10000 + 0.5) / 10000 AS rms,
           CAST(SUM(CASE WHEN abs(x) < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_quiet,
           CAST(MAX(abs(x)) AS BIGINT) AS peak
    FROM sv GROUP BY i
    """,
    category="multimodal",
)
def q_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio loudness/silence profile over REAL decoded PCM16: RMS,
    quiet-sample count, absolute peak — the silence-trim and
    loudness-normalization signals. The oracle re-derives every
    16-bit sample from the synthesis formula (digest bytes →
    little-endian int16, sign handled explicitly), so a match proves
    bit-exact PCM decode including negative samples."""
    from nimble_spark.operators.multimodal import audio_loudness

    media = _media_table(spark, sf_dir)
    return audio_loudness(media)


@register(
    "q_stream_format_sink",
    oracle="""
    SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source
    """,
    category="streaming",
)
def q_stream_format_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SINK through the plain writeStream surface
    (`writeStream.format("nimble")`, sources/datasource.py
    NimbleStreamWriter): micro-batches append committed files with
    the batch id recorded in the commit log (replayed batches are
    detected and dropped — idempotent appends). The drained sink
    table must aggregate exactly like the source — and, being a
    normal nimble table, it time-travels and CDC-streams onward."""
    from nimble_spark.sources.cache import ensure_cached
    from nimble_spark.sources.datasource import register_nimble_source
    from nimble_spark.sources.table import read_table
    from nimble_spark.streaming.windows import read_documents_stream

    register_nimble_source(spark)

    def _build(tmp: str) -> None:
        import os

        stream = read_documents_stream(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
        q = (
            stream.writeStream.format("nimble")
            .option("path", os.path.join(tmp, "table"))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    root = ensure_cached(sf_dir, "documents__format_sink", ["documents"], _build)
    import os

    df = read_table(spark, os.path.join(root, "table"))
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("bigint").alias("chars")
    )


@register(
    "q_stream_late_data",
    oracle=f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
    live AS (
      SELECT ts, value FROM events
      WHERE ts < TIMESTAMP '2024-01-11' OR ts >= TIMESTAMP '2024-01-20'
    )
    SELECT strftime(date_trunc('day', live.ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n, {dsum_sql("value")} AS sum_v
    FROM live, wm
    WHERE date_trunc('day', live.ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1
    """,
    category="streaming",
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, ACTUALLY exercised: a 3-commit
    replay table (early days / recent days / genuinely-late rows whose
    event times sit weeks behind the watermark) streamed one commit
    per micro-batch via the nimble CDC source's admission control
    (`maxCommitsPerTrigger=1` — commit order IS batch order, so the
    watermark trajectory is deterministic). Append-mode daily windows
    with a 2-hour watermark must therefore (a) DROP every row of the
    late third commit — their windows closed weeks before it arrived —
    and (b) withhold the still-open trailing windows. The oracle
    computes exactly that from the batch data: commits 1∪2, windows
    whose end precedes final-watermark = max(ts) − 2 h. Every other
    streaming query here drains a single batch where nothing is ever
    late; this one is the proof the watermark machinery does what the
    docstrings claim."""
    from nimble_spark.streaming.windows import run_to_completion

    def _build(tmp: str) -> None:
        e = load(spark, sf_dir, "events").select("event_id", "ts", "value")
        early = e.filter(F.col("ts") < "2024-01-11")
        recent = e.filter(F.col("ts") >= "2024-01-20")
        late = (
            e.filter((F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-20"))
            .withColumn("ts", F.col("ts") - F.expr("INTERVAL 15 DAYS"))
        )
        write_table(early, tmp, WriteOptions())
        write_table(recent, tmp, mode="append")
        write_table(late, tmp, mode="append")

    path = ensure_cached(sf_dir, "events__late_replay", ["events"], _build)
    from nimble_spark.sources.datasource import register_nimble_source

    register_nimble_source(spark)
    stream = (
        spark.readStream.format("nimble")
        .option("maxCommitsPerTrigger", "1")
        .load(path)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_v"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"), "n", "sum_v")
    )
    return run_to_completion(agg, "rq_stream_late_data", mode="append")


@register(
    "q_image_dedup_canonical",
    oracle=f"""
    WITH ah AS ({_AHASH_DUCK}),
    pairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM ah a JOIN ah b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.ahash, b.ahash)) <= {_IMG_HAM_THR}
    ),
    nbr AS (
      SELECT id_b AS media_id, id_a AS nbr FROM pairs
      UNION ALL
      SELECT id_a AS media_id, id_b AS nbr FROM pairs
    ),
    canon AS (
      SELECT ah.media_id,
             LEAST(ah.media_id, COALESCE(MIN(nbr.nbr), ah.media_id)) AS canonical
      FROM ah LEFT JOIN nbr ON nbr.media_id = ah.media_id
      GROUP BY ah.media_id
    )
    SELECT media_id, canonical,
           CASE WHEN canonical = media_id THEN 1 ELSE 0 END AS is_kept
    FROM canon
    """,
    category="multimodal",
)
def q_image_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual dedup retention decision: every image maps to the
    smallest media_id among itself and its Hamming≤3 aHash neighbors
    (one propagation hop — the full transitive closure is
    q_dedup_clusters' iterated min-label pattern; one hop is the
    conservative daily-ingest policy that never drops two mutually
    distant members of a chain). is_kept marks the survivors a
    downstream filter joins against. Reuses the banded pair generation
    of q_image_neardup; the canonical pick is a per-image MIN."""
    pairs = q_image_neardup(spark, sf_dir).select("id_a", "id_b")
    ah = q_image_ahash(spark, sf_dir).select("media_id")
    nbr = pairs.select(
        F.col("id_b").alias("media_id"), F.col("id_a").alias("nbr")
    ).unionByName(pairs.select(F.col("id_a").alias("media_id"), F.col("id_b").alias("nbr")))
    canon = (
        ah.join(nbr, "media_id", "left")
        .groupBy("media_id")
        .agg(
            F.least(
                F.col("media_id"), F.coalesce(F.min("nbr"), F.col("media_id"))
            ).alias("canonical")
        )
    )
    return canon.select(
        "media_id",
        "canonical",
        F.when(F.col("canonical") == F.col("media_id"), 1).otherwise(0).alias("is_kept"),
    )
