"""Engine-to-engine batch serialization — the Serializer/Deserializer
surface (dwio/nimble/serializer/Serializer.h:33-56: serialize Velox
vectors to a transport format and back).

Spark's internal shuffle serde is built-in; the *external* transport
capability maps to Arrow IPC: DataFrame → Arrow stream bytes →
DataFrame, zero-copy columnar, readable by any Arrow-speaking engine
(DuckDB, pandas, Rust, browsers). Used for cross-process handoff and
for index-projection transport (NimbleIndexProjector analogue,
``serve_lookups``): a lookup batch that fits ``max_batch_keys`` is
served in-process, the way the reference's projector serves an
in-memory request batch: its hit files are read on the driver with
the package's own Arrow file reader while they fit
``spark.sql.autoBroadcastJoinThreshold``, through one Spark read
otherwise (and always on hash-bucketed tables), and encoded on the
driver. Larger batches encode executor-side."""

from __future__ import annotations

import io
import itertools
import os

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _ipc_bytes(table: pa.Table) -> bytes:
    """``table`` as one self-contained Arrow IPC stream."""
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def serialize(df: DataFrame) -> bytes:
    """DataFrame → Arrow IPC stream bytes (collects to the driver —
    transport serde for batches/slices, not bulk data movement; bulk
    stays in parquet)."""
    return _ipc_bytes(df.toArrow())


def deserialize(spark: SparkSession, payload: bytes) -> DataFrame:
    """Arrow IPC stream bytes → DataFrame."""
    with pa.ipc.open_stream(io.BytesIO(payload)) as reader:
        table = reader.read_all()
    return spark.createDataFrame(table.to_pandas())


def serialize_partitioned(df: DataFrame) -> DataFrame:
    """Distributed serde: each partition serializes itself to one Arrow
    IPC payload row (id, n_rows, payload) — the per-stripe slice
    transport the reference's index projector performs, without any
    driver collect."""
    import pandas as pd

    def per_batch(batches):
        for pdf in batches:
            payload = _ipc_bytes(pa.Table.from_pandas(pdf, preserve_index=False))
            yield pd.DataFrame({"n_rows": [len(pdf)], "payload": [payload]})

    return df.mapInPandas(per_batch, "n_rows long, payload binary")


def deserialize_partitioned(payloads: DataFrame, schema) -> DataFrame:
    """Inverse of serialize_partitioned: each Arrow IPC payload row
    expands back into its record batch, partition-locally — the
    default serde path (no driver collect; the driver-side
    ``serialize``/``deserialize`` pair remains for small slices like
    DSL peeks and test fixtures).

    ``schema`` is the DDL string / StructType of the encoded rows
    (Arrow IPC embeds the schema per payload; Spark needs it
    statically for the mapInPandas plan)."""
    import pandas as pd

    def per_batch(batches):
        for pdf in batches:
            for buf in pdf["payload"]:
                with pa.ipc.open_stream(io.BytesIO(bytes(buf))) as reader:
                    yield reader.read_all().to_pandas()
            if len(pdf) == 0:
                yield pd.DataFrame()

    return payloads.mapInPandas(per_batch, schema)


# Serving request batches are metadata-sized by contract (the
# reference's NimbleIndexProjector also takes an in-memory request
# batch, velox/index/NimbleIndexProjector.h:35-43). The cap bounds
# what the driver holds: a batch is read whole only when its request
# rows and its hit rows each fit, and a request frame with more than
# this many distinct keys raises instead of collecting them. 100k
# narrow rows are a few MB — far below any realistic driver heap, far
# above any realistic serving batch.
SERVE_MAX_BATCH_KEYS = 100_000


def _response(rids: list, counts: list, payloads: list) -> pa.Table:
    return pa.table(
        {
            "request_id": pa.array(rids, pa.int64()),
            "n_rows": pa.array(counts, pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )


def _encode_batch(batch: pa.Table, hits: pa.Table, key: str) -> pa.Table:
    """One response row per ``request_id`` of ``batch``: its payload
    holds the hit rows of every key the request lists, in request
    order (a key listed twice is served twice, as a join would).
    ``hits`` is sorted by key so each key's rows are one zero-copy
    slice."""
    hits = hits.sort_by(key)
    runs: dict = {}
    offset = 0
    for k, group in itertools.groupby(hits.column(key).to_pylist()):
        n = sum(1 for _ in group)
        runs[k] = (offset, n)
        offset += n
    slices: dict = {}
    for rid, k in zip(batch.column("request_id").to_pylist(), batch.column(key).to_pylist()):
        found = slices.setdefault(rid, [])
        if k in runs:
            found.append(runs[k])
    counts, payloads = [], []
    for spans in slices.values():
        parts = [hits.slice(o, n) for o, n in spans]
        counts.append(sum(n for _, n in spans))
        payloads.append(_ipc_bytes(pa.concat_tables(parts) if parts else hits.slice(0, 0)))
    return _response(list(slices), counts, payloads)



def _driver_read_cap(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as Spark parsed
    it: Spark's own bound on what it collects to the driver bounds the
    hit files the driver reads. Negative (-1) turns the driver read
    off."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


# Spark types whose toArrow() form a pyarrow read of the stored column
# reaches with one cast (nested types keep the Spark read).
_DRIVER_READ_TYPES = (
    T.NumericType, T.StringType, T.BinaryType, T.BooleanType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _read_hits_on_driver(
    spark: SparkSession, path: str, key: str, proj: list[str], keys: list
) -> pa.Table | None:
    """The rows of ``proj`` (``key`` first) whose key is in ``keys``,
    read on the driver with the ``format("nimble")`` file reader
    (``datasource._read_file_batches_mapped``: INT96 timestamps,
    declared-type widening, columns a file predates, Hive partition
    values) from only the files the point-lookup pruning keeps, with
    the keys pushed down as an ``in`` filter so pyarrow skips row
    groups by their footer stats, then filtered on the key. The
    manifest is read from its root, so on a sharded manifest only the
    pages the pruning needs load. The result has exactly the schema
    the Spark read's Arrow conversion gives the same rows
    (``to_arrow_schema`` of the projected declared fields).

    None — serve through the Spark read — when the kept files' bytes
    exceed ``_driver_read_cap``, on hash-bucketed tables (bucket ids
    need Spark's xxhash64), when a projected name is not a live column
    (read_table null-fills or raises), a projected type is nested, or
    the key is neither integral nor string with probes of its kind."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nimble_spark.sources.datasource import _read_file_batches_mapped
    from nimble_spark.sources.table import (
        _point_lookup_entries,
        logical_field_names,
        read_manifest,
        stored_sources,
    )

    manifest = read_manifest(path, materialize=False)
    idx = manifest.get("indexes", {})
    if "hash" in idx or not set(proj) <= set(logical_field_names(manifest)):
        return None
    source = stored_sources(manifest)
    stored = [source.get(c, c) for c in proj]
    declared = {f["name"]: f for f in manifest["schema"]["fields"]}
    fields = [T.StructField(c, T.StructField.fromJson(declared[s]).dataType) for c, s in zip(proj, stored)]
    if not all(isinstance(f.dataType, _DRIVER_READ_TYPES) for f in fields):
        return None
    key_type = fields[0].dataType
    if isinstance(key_type, T.IntegralType):
        probe_type = int
    elif isinstance(key_type, T.StringType):
        probe_type = str
    else:
        return None
    if any(type(v) is not probe_type for v in keys):
        return None
    cap = _driver_read_cap(spark)
    if cap < 0:
        return None
    entries = _point_lookup_entries(spark, path, manifest, stored[0], keys)[1] if keys else []
    if entries is None:
        entries = read_manifest(path)["files"]
    if sum(f["bytes"] for f in entries) > cap:
        return None

    schema = to_arrow_schema(
        T.StructType(fields),
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true",
    )
    pkeys = (idx.get("partition") or {}).get("keys") or []
    part_types = {k: T.StructField.fromJson(declared[k]).dataType.simpleString() for k in pkeys}
    types = {n: f["type"] if isinstance(f["type"], str) else "string" for n, f in declared.items()}
    cols = list(dict.fromkeys(stored))
    pushed = [(stored[0], "in", tuple(keys))]
    probes = pa.array(keys)
    parts = []
    for f in entries:
        file = os.path.join(path, f["path"])
        batches = list(_read_file_batches_mapped(file, cols, pushed, part_types, {}, types))
        if batches:
            t = pa.Table.from_batches(batches)
            t = pa.table([t.column(s) for s in stored], names=proj).cast(schema)
            # the pushed filter only prunes: the reader drops a
            # constraint on a column the file predates and reads the
            # whole file when pyarrow cannot apply it
            parts.append(t.filter(pc.is_in(t.column(0), value_set=probes)))
    return pa.concat_tables(parts) if parts else schema.empty_table()


def serve_lookups(
    spark: SparkSession,
    path: str,
    requests: DataFrame | pa.Table,
    key: str,
    columns: list[str],
    max_batch_keys: int = SERVE_MAX_BATCH_KEYS,
) -> DataFrame:
    """Batched index-lookup serving — the full NimbleIndexProjector
    loop (velox/index/NimbleIndexProjector.h:35-43: a BATCH of point
    lookup requests + column projections → index-located rows,
    serialized for transport).

    ``requests`` holds ``(request_id, <key value>)`` rows (second
    column named ``key``): a DataFrame, or a ``pyarrow.Table`` already
    on the driver, whose read starts no job. The batch's distinct
    non-null keys prune the read through whatever index the table
    has — hash buckets, sorted index, bloom sidecar, or cluster
    ranges — and each request's projected rows serialize to ONE Arrow
    IPC payload row ``(request_id, n_rows, payload)``. Requests
    matching nothing (a missing or null key) yield n_rows=0 with an
    empty payload of the projected schema, so the response always
    covers the batch.

    The path is chosen from the sizes observed against
    ``max_batch_keys``:

    - the batch's request rows and its hit rows each fit: the hits are
      read on the driver, sliced per key and encoded there; the result
      is a local frame, so collecting it starts no job. While the kept
      files' bytes fit ``spark.sql.autoBroadcastJoinThreshold`` the
      hit files are read in-process with the package's Arrow file
      reader, the way the reference's projector reads its chunks
      without an engine job; larger reads, hash-bucketed tables
      (bucket ids need Spark's xxhash64) and nested projections take
      one Spark read (``read_table``) instead. A DataFrame batch costs
      one more job to read its requests;
    - otherwise the hits join the requests and each request group is
      encoded executor-side (``applyInArrow``).

    Every path emits the same payloads. Raises ``ValueError`` when the
    batch holds more than ``max_batch_keys`` distinct keys: that is no
    longer a serving workload — run a distributed semi-join
    (``read_table(...).join(requests, key, 'left_semi')``) instead."""
    from pyspark.sql import functions as F

    from nimble_spark.sources.table import read_table

    proj = list(dict.fromkeys([key, *columns]))
    schema = "request_id long, n_rows long, payload binary"
    on_driver = isinstance(requests, pa.Table)
    if on_driver:
        batch = requests.select(["request_id", key])
    else:
        batch = requests.select("request_id", key).limit(max_batch_keys + 1).toArrow()
    if batch.num_rows <= max_batch_keys:
        keys = batch.column(key).drop_null().unique().to_pylist()
        found = _read_hits_on_driver(spark, path, key, proj, keys)
        if found is None:
            hits = read_table(spark, path, columns=proj, point_lookup=(key, keys))
            found = hits.limit(max_batch_keys + 1).toArrow()
        if found.num_rows <= max_batch_keys:
            return spark.createDataFrame(_encode_batch(batch, found, key), schema)
    elif on_driver:
        keys = batch.column(key).drop_null().unique().to_pylist()
    else:
        probe = requests.select(key).dropna().distinct().limit(max_batch_keys + 1).collect()
        keys = [r[0] for r in probe]
    if len(keys) > max_batch_keys:
        raise ValueError(
            f"serve_lookups request batch exceeds {max_batch_keys} distinct "
            f"keys — this is a bulk-join workload, not a serving batch; use "
            f"read_table(...).join(requests, {key!r}, 'left_semi') or raise "
            f"max_batch_keys explicitly"
        )
    hits = read_table(spark, path, columns=proj, point_lookup=(key, keys))
    if on_driver:
        requests = spark.createDataFrame(batch)

    def encode(group: pa.Table) -> pa.Table:
        rows = group.filter(pc.is_valid(group.column("__hit"))).select(proj)
        return _response([group.column("request_id")[0].as_py()], [rows.num_rows], [_ipc_bytes(rows)])

    # explicit hit marker: a left-join miss and a matched row that
    # happens to contain NULLs in projected columns must be
    # distinguishable. The request key is renamed so the hit rows keep
    # the table's key column and type, as the driver path does.
    req = requests.select("request_id", F.col(key).alias("__req_key"))
    joined = req.join(hits.withColumn("__hit", F.lit(1)), F.col("__req_key") == F.col(key), "left")
    return (
        joined.select("request_id", *proj, "__hit")
        .groupBy("request_id")
        .applyInArrow(encode, schema)
    )
