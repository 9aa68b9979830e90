"""Inspection tools — the NimbleDSL / NimbleDump surface
(dwio/nimble/docs/NimbleDSL.md:22-135, tools/NimbleDumpLib.h:37-62)
re-expressed as DataFrames over table metadata.

Commands: DESCRIBE, SHOW SCHEMA / STATS / STRIPES / FILES / INDEX /
METADATA, SELECT ... [LIMIT n] [OFFSET n]. Everything reads the
manifest + parquet footers; only SELECT touches data.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pa_pq

from pyspark.sql import DataFrame, SparkSession

from nimble_spark.sources.table import MANIFEST_DIR, MANIFEST_NAME, read_manifest


def describe(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE: column name, type, nullability, attribute bag —
    the LOGICAL schema: columns deduplicated away by
    ``dedup_columns`` (stored once, restored on read) appear with an
    ``alias_of`` attribute naming their stored twin."""
    m = read_manifest(path)
    attrs = m.get("column_attributes", {})
    by_name = {f["name"]: f for f in m["schema"]["fields"]}
    aliases = m.get("column_aliases", {})
    mapping = m.get("schema_mapping") or {}
    renames = mapping.get("renames") or {}
    inv = {l: p for p, l in renames.items()}
    from nimble_spark.sources.table import logical_field_names

    order = logical_field_names(m)
    rows = []
    for name in order:
        phys = inv.get(name, name)
        f = by_name.get(phys) or by_name[aliases[name]]
        a = dict(attrs.get(phys, {}))
        if name in aliases:
            a["alias_of"] = aliases[name]
        if name in inv:
            a["stored_as"] = inv[name]  # alter.py metadata-only rename
        rows.append(
            (
                name,
                f["type"] if isinstance(f["type"], str) else json.dumps(f["type"]),
                bool(f.get("nullable", True)),
                json.dumps(a),
            )
        )
    return spark.createDataFrame(rows, "column STRING, type STRING, nullable BOOLEAN, attributes STRING")


def show_schema(spark: SparkSession, path: str) -> DataFrame:
    """SHOW SCHEMA: the full schema TREE including nested types
    (arrays, maps, structs) — one row per node with its dotted path,
    type kind, and nullability (reference docs/NimbleDSL.md SHOW
    SCHEMA: the nested view DESCRIBE's top-level table flattens
    away)."""
    m = read_manifest(path)
    mapping = m.get("schema_mapping") or {}
    dropped = set(mapping.get("dropped", []))
    ren = mapping.get("renames") or {}
    rows: list[tuple] = []

    def kind(t) -> str:
        return t if isinstance(t, str) else t.get("type", "struct")

    def walk(prefix: str, field: dict, depth: int) -> None:
        t = field["type"]
        rows.append((prefix, kind(t), bool(field.get("nullable", True)), depth))
        if isinstance(t, dict):
            tt = t.get("type")
            if tt == "struct":
                for sub in t.get("fields", []):
                    walk(f"{prefix}.{sub['name']}", sub, depth + 1)
            elif tt == "array":
                walk(
                    f"{prefix}.element",
                    {"type": t["elementType"], "nullable": t.get("containsNull", True)},
                    depth + 1,
                )
            elif tt == "map":
                walk(f"{prefix}.key", {"type": t["keyType"], "nullable": False}, depth + 1)
                walk(
                    f"{prefix}.value",
                    {"type": t["valueType"], "nullable": t.get("valueContainsNull", True)},
                    depth + 1,
                )

    for f in m["schema"]["fields"]:
        if f["name"] in dropped:
            continue  # alter.py metadata-only drop
        walk(ren.get(f["name"], f["name"]), f, 0)
    return spark.createDataFrame(
        rows, "path STRING, kind STRING, nullable BOOLEAN, depth INT"
    )


def show_info(spark: SparkSession, path: str) -> DataFrame:
    """SHOW INFO: file-level metadata — format version, total size,
    checksum type, stripe/file/row counts, and the user-metadata
    key-value pairs (reference docs/NimbleDSL.md SHOW INFO)."""
    m = read_manifest(path)
    info = [
        ("format_version", str(m.get("format_version", 1))),
        ("total_bytes", str(sum(f["bytes"] for f in m["files"]))),
        ("checksum_type", "SHA256"),
        ("n_files", str(len(m["files"]))),
        ("n_stripes", str(sum(f["row_groups"] for f in m["files"]))),
        ("rows", str(m["rows"])),
        ("n_commits", str(len(m.get("commits", [])))),
    ]
    # declared statistics synopses, surfaced by current LOGICAL names
    # (the declared lists store physical names — same rename treatment
    # as SHOW STATS)
    _ren = (m.get("schema_mapping") or {}).get("renames") or {}
    for key, mkey in (
        ("ndv_columns", "ndv_columns"),
        ("sum_columns", "sum_columns"),
        ("histogram_columns", "histogram_columns"),
    ):
        if m.get(mkey):
            info.append(
                (f"synopses.{key}", ",".join(_ren.get(c, c) for c in m[mkey]))
            )
    info += [(f"user.{k}", str(v)) for k, v in sorted(m.get("user_metadata", {}).items())]
    return spark.createDataFrame(info, "key STRING, value STRING")


def show_stats(spark: SparkSession, path: str) -> DataFrame:
    """SHOW STATS: per-column min/max/null-count from the manifest —
    the LOGICAL view (stats fold under physical names; alter renames
    surface the current name, dropped columns are hidden)."""
    m = read_manifest(path)
    mapping = m.get("schema_mapping") or {}
    renames = mapping.get("renames") or {}
    dropped = set(mapping.get("dropped") or [])
    rows = [
        (renames.get(c, c), str(s.get("min")), str(s.get("max")), int(s.get("null_count", 0)))
        for c, s in m["column_stats"].items()
        if c not in dropped
    ]
    return spark.createDataFrame(rows, "column STRING, min STRING, max STRING, null_count BIGINT")


def show_ndv(spark: SparkSession, path: str, col: str | None = None) -> DataFrame:
    """SHOW NDV [col]: statistics-answered distinct counts from the
    per-file KMV synopses (compaction.fast_ndv) — zero data IO; the
    ``exact`` column says whether the fold was below the synopsis size
    (exact) or the KMV estimator (estimate)."""
    from nimble_spark.sources.compaction import fast_ndv

    m = read_manifest(path, materialize=False)
    # declared lists hold PHYSICAL names; surface the logical view
    _ren = (m.get("schema_mapping") or {}).get("renames") or {}
    cols = [col] if col else [
        _ren.get(c, c) for c in (m.get("ndv_columns") or [])
    ]
    if not cols:
        raise ValueError(
            "no NDV synopses declared — write with "
            "WriteOptions(ndv_columns=[...])"
        )
    rows = []
    for c in cols:
        r = fast_ndv(path, c)
        rows.append((c, r["ndv"], r["exact"], r["k"]))
    return spark.createDataFrame(rows, "column STRING, ndv BIGINT, exact BOOLEAN, k INT")


def show_sums(spark: SparkSession, path: str, col: str | None = None) -> DataFrame:
    """SHOW SUMS [col]: statistics-answered exact SUM/AVG from the
    per-file synopses (compaction.fast_sum) — zero data IO.

    ``sum`` is rendered as a STRING so the exactness contract holds
    above 2⁵³ (a DOUBLE cast would silently round the integer fold
    the synopses went to such lengths to keep exact — ADVICE r7);
    ``avg`` is a nullable DOUBLE (NULL on an empty table)."""
    from nimble_spark.sources.compaction import fast_sum

    m = read_manifest(path, materialize=False)
    # declared lists hold PHYSICAL names; surface the logical view
    _ren = (m.get("schema_mapping") or {}).get("renames") or {}
    cols = [col] if col else [
        _ren.get(c, c) for c in (m.get("sum_columns") or [])
    ]
    if not cols:
        raise ValueError(
            "no SUM synopses declared — write with "
            "WriteOptions(sum_columns=[...])"
        )
    rows = []
    for c in cols:
        r = fast_sum(path, c)
        s = r["sum"]
        rows.append((
            c,
            str(s) if isinstance(s, int) else repr(float(s)),
            r["rows"],
            float(r["avg"]) if r["avg"] is not None else None,
        ))
    return spark.createDataFrame(
        rows, "column STRING, sum STRING, rows BIGINT, avg DOUBLE"
    )


def show_grouped_sums(spark: SparkSession, path: str, col: str) -> DataFrame:
    """SHOW GROUPED SUMS col: the per-partition-group exact SUM rollup
    from metadata alone (compaction.fast_grouped_sum — each file's sum
    synopsis keyed by its partition-path value; zero data IO at any
    table size). Per-group row counts come from the same manifest
    entries. Sums render as STRINGs for the same >2⁵³ exactness reason
    as SHOW SUMS."""
    from nimble_spark.sources.compaction import fast_grouped_sum
    from nimble_spark.sources.datasource import _path_partition_values

    sums = fast_grouped_sum(path, col)  # validates single partition key
    m = read_manifest(path)
    pkey = m["indexes"]["partition"]["keys"][0]
    counts: dict = {}
    for f in m["files"]:
        # the canonical Hive parser, keyed on the DECLARED partition
        # key — a first-`key=` path split would silently count the
        # wrong segment on any future multi-key layout (ADVICE r8)
        pv = _path_partition_values(f["path"]).get(pkey)
        counts[pv] = counts.get(pv, 0) + f["rows"]
    rows = [
        (
            str(pv),
            counts.get(str(pv), 0),
            str(s) if isinstance(s, int) else repr(float(s)),
        )
        for pv, s in sums
    ]
    return spark.createDataFrame(rows, "group STRING, rows BIGINT, sum STRING")


def show_partition_stats(spark: SparkSession, path: str, key: str, value: str) -> DataFrame:
    """SHOW PARTITION STATS key=value: everything the synopses know
    about ONE partition (compaction.fast_partition_stats) — rows,
    min/max, exact sums, exact NDV, value counts — zero data IO.
    Key-value rows, values as strings (one schema for all kinds)."""
    import pyspark.sql.types as T

    from nimble_spark.sources.compaction import fast_partition_stats

    m = read_manifest(path, materialize=False)
    ptype = {
        f["name"]: T.StructField.fromJson(f).dataType.simpleString()
        for f in m["schema"]["fields"]
    }.get(key, "string")
    from nimble_spark.sources.datasource import _parse_partition_value

    st = fast_partition_stats(path, (key, _parse_partition_value(value, ptype)))
    rows = [("rows", str(st["rows"]))]
    for kind in ("min", "max", "sums", "ndv"):
        for c, v in sorted(st.get(kind, {}).items()):
            rows.append((f"{kind}.{c}", str(v)))
    for c, vc in sorted(st.get("value_counts", {}).items()):
        for v, n in sorted(vc.items(), key=lambda kv: repr(kv[0])):
            rows.append((f"value_counts.{c}[{v}]", str(n)))
    return spark.createDataFrame(rows, "stat STRING, value STRING")


def show_value_counts(spark: SparkSession, path: str, col: str) -> DataFrame:
    """SHOW VALUE COUNTS col: the column's exact non-null value
    distribution folded from the per-file histograms
    (compaction.fast_value_counts) — zero data IO. Values render as
    strings (one DSL schema across int/string/bool columns)."""
    from nimble_spark.sources.compaction import fast_value_counts

    rows = [(str(v), n) for v, n in fast_value_counts(path, col)]
    return spark.createDataFrame(rows, "value STRING, count BIGINT")


def show_topk(spark: SparkSession, path: str, k: int, col: str) -> DataFrame:
    """SHOW TOP k col: the k exactly-most-frequent non-null values
    folded from the per-file histograms (compaction.fast_topk) —
    heavy hitters at zero data IO; ties break to the smaller value
    (ORDER BY count DESC, value)."""
    from nimble_spark.sources.compaction import fast_topk

    rows = [(str(v), n) for v, n in fast_topk(path, col, k)]
    return spark.createDataFrame(rows, "value STRING, count BIGINT")


def show_files(spark: SparkSession, path: str) -> DataFrame:
    """SHOW FILES (stripe groups): per-file rows/bytes/row-groups."""
    m = read_manifest(path)
    rows = [(f["path"], f["rows"], f["bytes"], f["row_groups"]) for f in m["files"]]
    return spark.createDataFrame(rows, "file STRING, rows BIGINT, bytes BIGINT, row_groups BIGINT")


def show_pages(spark: SparkSession, path: str) -> DataFrame:
    """SHOW PAGES: the sharded-manifest page layer — one row per
    content-addressed metadata page with its entry count, on-disk
    size, content hash, and folded [min,max] bounds (the root-side
    index page-granular pruning consults; the stripe-group metadata
    sections view, tablet/Footer.fbs:26-85). An unsharded table
    reports its single inline root."""
    import json as _json

    m = read_manifest(path, materialize=False)
    meta_dir = os.path.join(path, MANIFEST_DIR)
    if "file_pages" not in m:
        root = os.path.join(meta_dir, MANIFEST_NAME)
        rows = [
            (
                0,
                "(inline root)",
                len(m.get("files", [])),
                os.path.getsize(root),
                "",
                "",
                "",
            )
        ]
    else:
        rows = [
            (
                i,
                pg["path"],
                int(pg["n"]),
                os.path.getsize(os.path.join(meta_dir, pg["path"])),
                pg.get("sha", ""),
                _json.dumps(pg.get("min", {}), sort_keys=True, default=str),
                _json.dumps(pg.get("max", {}), sort_keys=True, default=str),
            )
            for i, pg in enumerate(m["file_pages"])
        ]
    return spark.createDataFrame(
        rows,
        "ordinal INT, page STRING, entries BIGINT, bytes BIGINT, "
        "sha STRING, min STRING, max STRING",
    )


def show_stripes(spark: SparkSession, path: str) -> DataFrame:
    """SHOW STRIPES: per row group (the stripe analogue) rows + bytes +
    per-column compressed sizes, read from parquet footers. ``stripe``
    is the row group's ordinal WITHIN its file; ``ordinal`` is the
    global position in manifest order — the number ``SELECT … STRIPE
    s`` addresses (per-file ordinals restart at 0 for every file, so
    they would mis-address any multi-file table)."""
    m = read_manifest(path)
    rows = []
    g = 0
    for f in m["files"]:
        md = pa_pq.ParquetFile(os.path.join(path, f["path"])).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            comp = sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
            raw = sum(rg.column(c).total_uncompressed_size for c in range(rg.num_columns))
            rows.append((g, f["path"], i, rg.num_rows, comp, raw))
            g += 1
    return spark.createDataFrame(
        rows,
        "ordinal INT, file STRING, stripe INT, rows BIGINT, "
        "compressed_bytes BIGINT, raw_bytes BIGINT",
    )


def show_chunks(spark: SparkSession, path: str) -> DataFrame:
    """SHOW CHUNKS: per (file, stripe, column) chunk statistics —
    value counts, null counts, typed min/max, byte offsets — read
    from the parquet column-chunk footers. The ChunkStats surface
    (dwio/nimble/tablet/ChunkStats.fbs:12-42, index/ChunkStats.cpp):
    the reference skips chunks on these during index scans; parquet
    readers skip on the same stats via the page/column index."""
    m = read_manifest(path)
    rows = []
    for f in m["files"]:
        md = pa_pq.ParquetFile(os.path.join(path, f["path"])).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for c in range(rg.num_columns):
                col = rg.column(c)
                st = col.statistics
                rows.append(
                    (
                        f["path"],
                        i,
                        col.path_in_schema,
                        rg.num_rows,
                        int(st.null_count) if st is not None and st.has_null_count else None,
                        str(st.min) if st is not None and st.has_min_max else None,
                        str(st.max) if st is not None and st.has_min_max else None,
                        col.file_offset,
                        col.total_compressed_size,
                    )
                )
    return spark.createDataFrame(
        rows,
        "file STRING, stripe INT, column STRING, rows BIGINT, null_count BIGINT, "
        "min STRING, max STRING, offset BIGINT, compressed_bytes BIGINT",
    )


def show_encodings(spark: SparkSession, path: str) -> DataFrame:
    """SHOW ENCODING: per column per stripe, the parquet encodings +
    codec actually chosen (the encoding-selection observability of
    tools/EncodingSelectionLogger.cpp)."""
    m = read_manifest(path)
    rows = []
    for f in m["files"]:
        md = pa_pq.ParquetFile(os.path.join(path, f["path"])).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for c in range(rg.num_columns):
                col = rg.column(c)
                rows.append(
                    (
                        f["path"],
                        i,
                        col.path_in_schema,
                        ",".join(str(e) for e in col.encodings),
                        str(col.compression),
                        col.total_compressed_size,
                        col.total_uncompressed_size,
                    )
                )
    return spark.createDataFrame(
        rows,
        "file STRING, stripe INT, column STRING, encodings STRING, codec STRING, "
        "compressed_bytes BIGINT, raw_bytes BIGINT",
    )


def show_histogram(
    spark: SparkSession, path: str, stripe: int | None = None
) -> DataFrame:
    """SHOW HISTOGRAM [STRIPE s]: encoding-usage histogram — one row
    per (encodings, physical type, codec) triple with how many column
    chunks use it and their total compressed bytes, across the table
    or one global stripe ordinal. The emitHistogram analogue
    (tools/NimbleDumpLib.cpp:753: count+bytes per encodingType ×
    dataType × compression across all streams)."""
    m = read_manifest(path)
    agg: dict[tuple[str, str, str], list[int]] = {}
    want = _locate_stripe(path, stripe) if stripe is not None else None
    for f in m["files"]:
        if want is not None and f["path"] != want[0]:
            continue
        md = pa_pq.ParquetFile(os.path.join(path, f["path"])).metadata
        for i in range(md.num_row_groups):
            if want is not None and i != want[1]:
                continue
            rg = md.row_group(i)
            for c in range(rg.num_columns):
                col = rg.column(c)
                key = (
                    ",".join(sorted(str(e) for e in col.encodings)),
                    str(col.physical_type),
                    str(col.compression),
                )
                v = agg.setdefault(key, [0, 0])
                v[0] += 1
                v[1] += col.total_compressed_size
    rows = sorted(
        (enc, typ, codec, n, b) for (enc, typ, codec), (n, b) in agg.items()
    )
    return spark.createDataFrame(
        rows,
        "encodings STRING, type STRING, codec STRING, chunks BIGINT, "
        "compressed_bytes BIGINT",
    )


def show_layout(spark: SparkSession, path: str) -> DataFrame:
    """SHOW LAYOUT: the byte-accurate physical layout map — every
    section of every file in byte order: the 4-byte magic header,
    each column chunk's [offset, offset+bytes) range (dictionary +
    data pages), and the footer (thrift metadata block + trailing
    length word + magic). Gaps between the last chunk and the footer
    hold the optional page/column indexes and bloom bitsets — the
    'optional sections' of the reference's layout dump. The
    emitLayout/emitFileLayout/emitStripesMetadata analogue
    (tools/NimbleDumpLib.h:52-60) over parquet physical layout."""
    m = read_manifest(path)
    rows = []
    for f in m["files"]:
        fp = os.path.join(path, f["path"])
        size = os.path.getsize(fp)
        md = pa_pq.ParquetFile(fp).metadata
        sections: list[tuple] = [("magic", None, None, 0, 4)]
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for c in range(rg.num_columns):
                col = rg.column(c)
                start = (
                    col.dictionary_page_offset
                    if col.dictionary_page_offset is not None
                    else col.data_page_offset
                )
                sections.append(
                    (
                        "column_chunk",
                        i,
                        col.path_in_schema,
                        int(start),
                        int(col.total_compressed_size),
                    )
                )
        # parquet tail: [footer thrift][4-byte LE length]["PAR1"]
        with open(fp, "rb") as fh:
            fh.seek(size - 8)
            flen = int.from_bytes(fh.read(4), "little")
        sections.append(("footer", None, None, size - 8 - flen, flen))
        sections.append(("footer_len_magic", None, None, size - 8, 8))
        for sec in sorted(sections, key=lambda s: s[3]):
            rows.append((f["path"], *sec))
    return spark.createDataFrame(
        rows,
        "file STRING, section STRING, stripe INT, column STRING, "
        "offset BIGINT, bytes BIGINT",
    )


def dump_binary(
    spark: SparkSession,
    path: str,
    stripe: int,
    column: str | None = None,
    limit: int = 256,
) -> DataFrame:
    """DUMP BINARY STRIPE s [COLUMN c] [LIMIT n]: bounded raw hex peek
    of a stripe's column-chunk bytes straight off disk — 16 bytes per
    output row (offset, hex, ascii), capped at ``limit`` bytes per
    chunk (default 256). The emitBinary analogue
    (tools/NimbleDumpLib.h:52, NimbleDumpLibTest.cpp binary cases);
    the bound keeps the peek driver-safe at any chunk size."""
    rel, rg_i = _locate_stripe(path, stripe)
    fp = os.path.join(path, rel)
    md = pa_pq.ParquetFile(fp).metadata
    rg = md.row_group(rg_i)
    rows = []
    with open(fp, "rb") as fh:
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if column is not None and column not in (name, name.split(".")[0]):
                continue
            start = (
                col.dictionary_page_offset
                if col.dictionary_page_offset is not None
                else col.data_page_offset
            )
            n = min(int(col.total_compressed_size), int(limit))
            fh.seek(int(start))
            blob = fh.read(n)
            for off in range(0, len(blob), 16):
                chunk = blob[off : off + 16]
                rows.append(
                    (
                        rel,
                        rg_i,
                        name,
                        int(start) + off,
                        " ".join(f"{b:02x}" for b in chunk),
                        "".join(chr(b) if 32 <= b < 127 else "." for b in chunk),
                    )
                )
    if column is not None and not rows:
        raise ValueError(f"no column {column!r} in stripe {stripe}")
    return spark.createDataFrame(
        rows,
        "file STRING, stripe INT, column STRING, offset BIGINT, "
        "hex STRING, ascii STRING",
    )


def show_index(spark: SparkSession, path: str) -> DataFrame:
    """SHOW INDEX: declared indexes + per-file key bounds (cluster)."""
    m = read_manifest(path)
    rows = []
    idx = m.get("indexes", {})
    if "cluster" in idx:
        for key in idx["cluster"]["keys"]:
            for f in m["files"]:
                rows.append(("cluster", key, f["path"], str(f["min"].get(key)), str(f["max"].get(key))))
    if "hash" in idx:
        rows.append(("hash", idx["hash"]["key"], f"{idx['hash']['n_buckets']} buckets", None, None))
    return spark.createDataFrame(rows, "index STRING, key STRING, location STRING, min STRING, max STRING")


def show_clustering(spark: SparkSession, path: str, key: str | None = None) -> DataFrame:
    """SHOW CLUSTERING [KEY k]: clustering health of the cluster/
    zorder key — files, max/avg probe depth (files a point probe must
    open; 1 = perfectly clustered, ≈ commit count after interleaved
    appends). Computed from manifest bounds only (zero data IO); the
    signal for when recluster_table is worth its full rewrite."""
    from nimble_spark.sources.compaction import clustering_depth

    d = clustering_depth(read_manifest(path), key=key)
    return spark.createDataFrame(
        [(d["key"], d["files"], d["ranged_files"], d["max_depth"], float(d["avg_depth"]))],
        "key STRING, files LONG, ranged_files LONG, max_depth LONG, avg_depth DOUBLE",
    )


def show_maintenance(spark: SparkSession, path: str) -> DataFrame:
    """SHOW MAINTENANCE: the actions currently worth their cost —
    compact (small-file debt), recluster (probe depth), compact
    deletes (pending masks), vacuum (trash bytes). Pure driver-side
    metadata arithmetic (compaction.advise_maintenance); empty =
    healthy."""
    from nimble_spark.sources.compaction import advise_maintenance

    recs = advise_maintenance(path)
    return spark.createDataFrame(
        [(r["action"], int(r["evidence"]), r["reason"]) for r in recs],
        "action STRING, evidence LONG, reason STRING",
    )


def show_metrics(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """SHOW METRICS: reader runtime statistics from an actual scan —
    the VeloxReader metrics surface (dwio/nimble/velox/VeloxReader.h:
    57-65: IO wall, decode time, stripes read/skipped). Spark's
    equivalents live on the physical scan node's SQLMetrics: this
    drives one aggregate over the table, then walks the executed plan
    and reports every (node, metric, value) — numFiles, filesSize
    (bytes read), metadataTime, scanTime, numOutputRows, …"""
    from nimble_spark.sources.table import read_table

    from pyspark.sql import functions as F

    df = read_table(spark, path, columns=columns)
    probe = df.agg(F.count(df.columns[0]))
    probe.collect()

    rows: list[tuple[str, str, int]] = []

    def walk(node) -> None:
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            rows.append((name, kv._1(), int(kv._2().value())))
        # AQE wrappers hold their subtree outside children():
        # AdaptiveSparkPlanExec → executedPlan, QueryStageExec → plan
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif name.endswith("QueryStage"):
            walk(node.plan())
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(probe._jdf.queryExecution().executedPlan())
    return spark.createDataFrame(rows, "node STRING, metric STRING, value BIGINT")


def show_write_stats(spark: SparkSession, path: str) -> DataFrame:
    """SHOW WRITE STATS: writer runtime statistics from the manifest —
    the VeloxWriter::RunStats surface (dwio/nimble/velox/VeloxWriter.h:
    78-115: flush wall, encode cost, stripe-size distribution). Wall
    times are per write phase; the size distribution comes from the
    written footers (min/max/total file bytes, row-group count)."""
    m = read_manifest(path)
    ws = dict(m.get("write_stats", {}))
    rows = [(k, int(v)) for k, v in sorted(ws.items())]
    return spark.createDataFrame(rows, "stat STRING, value BIGINT")


def show_history(spark: SparkSession, path: str) -> DataFrame:
    """SHOW HISTORY: the table's commit log — one row per write with
    mode, files/rows added, and write wall time. An overwrite starts
    a new log; appends (including every streaming micro-batch through
    the sink) extend it."""
    m = read_manifest(path)
    rows = [
        (
            int(c.get("commit", i)),
            str(c.get("mode", "")),
            int(c.get("files_added", 0)),
            int(c.get("rows_added", 0)),
            int(c.get("write_wall_ms", 0)),
        )
        for i, c in enumerate(m.get("commits", []))
    ]
    return spark.createDataFrame(
        rows,
        "commit BIGINT, mode STRING, files_added BIGINT, rows_added BIGINT, write_wall_ms BIGINT",
    )


def _lit(tok: str):
    """Parse a DSL literal: quoted string, else int, else float."""
    t = tok.strip()
    if len(t) >= 2 and t[0] == t[-1] and t[0] in "'\"":
        return t[1:-1]
    try:
        return int(t)
    except ValueError:
        return float(t)


def explain_pruning_df(
    spark: SparkSession,
    path: str,
    key: str,
    lo=None,
    hi=None,
    values: list | None = None,
) -> DataFrame:
    """EXPLAIN PRUNING <col> BETWEEN a AND b | IN (v, ...): per-file
    dry run of read_table's skip decision for that range scan or point
    lookup — which files it reads, and which tier (range stats, sorted
    index, bloom, hash buckets) skips each other one, without touching
    data."""
    from nimble_spark.sources.bloom import explain_pruning

    rows = [
        (r["file"], bool(r["kept"]), r["pruned_by"])
        for r in explain_pruning(spark, path, key, lo=lo, hi=hi, values=values)
    ]
    return spark.createDataFrame(rows, "file STRING, kept BOOLEAN, pruned_by STRING")


def show_scan_metrics(spark: SparkSession, path: str, where: str | None = None) -> DataFrame:
    """SHOW SCAN METRICS [WHERE expr]: the one-line reader-stats
    report for a (filtered) scan of the table — the
    stripeCountCallback / blockedOnIoCallback / decodingTimeCallback
    surface of VeloxReadParams (dwio/nimble/velox/VeloxReader.h:57-65)
    re-expressed as Spark scan-node SQLMetrics. Reports files listed
    in the manifest vs files the executed scan actually opened (the
    skipped-stripes count), bytes and rows read, and scan/metadata
    wall time, so pruning efficiency is a queryable number."""
    from pyspark.sql import functions as F

    from nimble_spark.plans.scan_metrics import totals
    from nimble_spark.sources.table import read_manifest, read_table

    files_listed = len(read_manifest(path)["files"])
    df = read_table(spark, path)
    if where:
        df = df.filter(F.expr(where))
    # drive via a 1-row agg: the scan executes fully (metrics are
    # real) but no data rows reach the driver
    t = totals(df.agg(F.count(F.lit(1))))
    files_read = int(t.get("numFiles", 0))
    row = (
        files_listed,
        files_read,
        files_listed - files_read,
        int(t.get("filesSize", 0)),
        int(t.get("numOutputRows", 0)),
        int(t.get("scanTime", 0)),
        int(t.get("metadataTime", 0)),
    )
    return spark.createDataFrame(
        [row],
        "files_listed BIGINT, files_read BIGINT, files_skipped BIGINT, "
        "bytes_read BIGINT, rows_read BIGINT, scan_ms BIGINT, metadata_ms BIGINT",
    )


def select(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    limit: int = 20,
    offset: int = 0,
    stripe: int | None = None,
) -> DataFrame:
    """SELECT cols [STRIPE s] [LIMIT n] [OFFSET n] — the DSL's data
    peek (docs/NimbleDSL.md:27-35). ``STRIPE s`` scopes the peek to
    the s-th row group globally in manifest file order — the
    ``ordinal`` column SHOW STRIPES reports (NOT its per-file
    ``stripe`` column, which restarts at 0 for every file): only the
    files intersecting that row span are opened — the seekToRow
    stripe-skip path, so peeking stripe 40000 of a 100 TB table costs
    one file read."""
    from nimble_spark.sources.table import _project_logical, _read_row_range, read_table

    if stripe is None:
        df = read_table(spark, path, columns=columns)
        if offset:
            df = df.offset(offset)
        return df.limit(limit)

    m = read_manifest(path)
    span = None
    off = idx = 0
    for f in m["files"]:
        rg_rows = f.get("rg_rows")
        if rg_rows is None:  # pre-distribution manifest: footer read
            md = pa_pq.ParquetFile(os.path.join(path, f["path"])).metadata
            rg_rows = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        for n in rg_rows:
            if idx == stripe:
                span = (off, off + n)
                break
            off += n
            idx += 1
        if span:
            break
    if span is None:
        raise ValueError(f"stripe {stripe} out of range (table has {idx} stripes)")
    lo = span[0] + offset
    # same logical view as every other read path
    return _project_logical(_read_row_range(spark, path, m, lo, min(span[1], lo + limit)), m, columns)


def show_trash(spark: SparkSession, path: str) -> DataFrame:
    """SHOW TRASH: retained tombstones from rewrite retention — the
    files replaced by merge/update commits, kept for snapshot/CDC
    reads until VACUUM reclaims them. One row per retained file with
    the commit that removed it."""
    from nimble_spark.sources.table import MANIFEST_DIR

    trash = os.path.join(path, MANIFEST_DIR, "trash")
    rows = []
    if os.path.isdir(trash):
        for d in sorted(os.listdir(trash)):
            full = os.path.join(trash, d)
            if not os.path.isdir(full) or not d.startswith("commit-"):
                continue
            commit = int(d.split("-", 1)[1])
            for root, _dirs, files in os.walk(full):
                for fn in files:
                    if fn.endswith(".parquet"):
                        p = os.path.join(root, fn)
                        rows.append(
                            (commit, os.path.relpath(p, full), os.path.getsize(p))
                        )
    return spark.createDataFrame(
        rows or [(None, None, None)],
        "removed_by_commit INT, file STRING, bytes BIGINT",
    ).filter("file IS NOT NULL")


def _locate_stripe(path: str, target: int) -> tuple[str, int]:
    """Map a global stripe ordinal to (file, per-file stripe) from the
    manifest's per-file row-group counts — zero footer reads, any
    table size."""
    mf = read_manifest(path)
    ordinal = 0
    for f in mf["files"]:
        n = f.get("row_groups", 0)
        if ordinal + n > target:
            return (f["path"], target - ordinal)
        ordinal += n
    raise ValueError(f"stripe {target} out of range (table has {ordinal} stripes)")


def run_command(spark: SparkSession, path: str, command: str) -> DataFrame:
    """Dispatch one DSL command string (the NimbleDSL VM analogue,
    dwio/nimble/tools/NimbleDslVm.cpp):

      DESCRIBE | SHOW SCHEMA | SHOW INFO | SHOW STATS | SHOW NDV [col] | SHOW SUMS [col] |
      SHOW GROUPED SUMS col | SHOW VALUE COUNTS col | SHOW TOP k col |
      SHOW PARTITION STATS k=v |
      SELECT COUNT(*) | SELECT SUM(col) | SELECT COUNT(DISTINCT col) | SHOW FILES |
      SHOW PAGES | SHOW STRIPES | SHOW HISTOGRAM [STRIPE s] |
      SHOW CHUNKS [STRIPE s] | SHOW STREAMS [STRIPE s] |
      SHOW ENCODING [STRIPE s] | SHOW INDEX | SHOW CLUSTERING [KEY k] |
      SHOW MAINTENANCE | RUN MAINTENANCE [VACUUM] | SHOW METRICS | SHOW WRITE STATS |
      SHOW HISTORY | SHOW TRASH | SHOW CONSTRAINTS | SHOW TAGS | VACUUM [MIN AGE n] | HELP |
      SHOW PROPERTIES | SET PROPERTY k=v | UNSET PROPERTY k |
      EXPIRE SNAPSHOTS KEEP n | REPLICATE FROM 'src' KEY k |
      ALTER RENAME a TO b | ALTER DROP c | ALTER ADD name type | ALTER WIDEN col type |
      CLONE TO 'path' [DEEP] |
      SHOW LAYOUT | DUMP BINARY STRIPE s [COLUMN c] [LIMIT n] |
      SHOW SCAN METRICS [WHERE expr] |
      EXPLAIN PRUNING col BETWEEN a AND b | EXPLAIN PRUNING col IN (v, ...) |
      SELECT col[,col...] [LIMIT n] [OFFSET n] [STRIPE s] (any clause order)
    """
    import re

    # trailing semicolons/commas are optional (docs/NimbleDSL.md)
    c = command.strip().rstrip(";,").strip()
    u = c.upper()
    if u == "DESCRIBE":
        return describe(spark, path)
    if u == "SHOW SCHEMA":
        return show_schema(spark, path)
    if u == "SHOW INFO":
        return show_info(spark, path)
    if u == "SHOW STATS":
        return show_stats(spark, path)
    if u == "SHOW FILES":
        return show_files(spark, path)
    m = re.match(r"SHOW NDV(?:\s+(\w+))?$", c, re.I)
    if m:
        return show_ndv(spark, path, m.group(1))
    m = re.match(r"SHOW GROUPED SUMS?\s+(\w+)$", c, re.I)
    if m:
        return show_grouped_sums(spark, path, m.group(1))
    m = re.match(r"SHOW VALUE COUNTS?\s+(\w+)$", c, re.I)
    if m:
        return show_value_counts(spark, path, m.group(1))
    m = re.match(r"SHOW TOP\s+(\d+)\s+(\w+)$", c, re.I)
    if m:
        return show_topk(spark, path, int(m.group(1)), m.group(2))
    m = re.match(r"SHOW PARTITION STATS\s+(\w+)\s*=\s*'?([^']*?)'?$", c, re.I)
    if m:
        return show_partition_stats(spark, path, m.group(1), m.group(2))
    m = re.match(r"SHOW SUMS?(?:\s+(\w+))?$", c, re.I)
    if m:
        return show_sums(spark, path, m.group(1))
    if u == "SHOW PAGES":
        return show_pages(spark, path)
    m = re.match(r"SHOW HISTOGRAM(?:\s+STRIPE\s+(\d+))?$", c, re.I)
    if m:
        return show_histogram(
            spark, path, int(m.group(1)) if m.group(1) else None
        )
    if u == "SHOW STRIPES":
        return show_stripes(spark, path)
    m = re.match(r"SHOW (CHUNKS|STREAMS|ENCODINGS?)(?:\s+STRIPE\s+(\d+))?$", c, re.I)
    if m:
        # SHOW STREAMS ≡ SHOW CHUNKS: the reference's stream-level view
        # maps to parquet column chunks (docs/NimbleDSL.md SHOW STREAMS
        # [STRIPE s] / SHOW ENCODING [STRIPE s]); the optional filter
        # scopes to one global stripe ordinal — the same number
        # SELECT … STRIPE and SHOW STRIPES' `ordinal` use.
        kind = m.group(1).upper()
        df = show_encodings(spark, path) if kind.startswith("ENCODING") else show_chunks(spark, path)
        if m.group(2) is None:
            return df
        hit = _locate_stripe(path, int(m.group(2)))
        from pyspark.sql import functions as F

        return df.filter((F.col("file") == hit[0]) & (F.col("stripe") == hit[1]))
    if u == "HELP":
        cmds = run_command.__doc__.split("\n\n")[1].split("\n")
        return spark.createDataFrame(
            [(x.strip().rstrip("|").strip(),) for x in cmds if x.strip()],
            "commands STRING",
        )
    if u == "SHOW LAYOUT":
        return show_layout(spark, path)
    m = re.match(
        # [\w.]+ so dotted nested-column names (a.b) reach dump_binary,
        # which matches both the leaf path and its root column
        r"DUMP\s+BINARY\s+STRIPE\s+(\d+)(?:\s+COLUMN\s+([\w.]+))?(?:\s+LIMIT\s+(\d+))?$",
        c,
        re.I,
    )
    if m:
        return dump_binary(
            spark,
            path,
            int(m.group(1)),
            column=m.group(2),
            limit=int(m.group(3)) if m.group(3) else 256,
        )
    if u == "SHOW INDEX":
        return show_index(spark, path)
    m = re.match(r"SHOW CLUSTERING(?:\s+KEY\s+([\w.]+))?$", c, re.I)
    if m:
        return show_clustering(spark, path, key=m.group(1))
    if u == "SHOW MAINTENANCE":
        return show_maintenance(spark, path)
    m = re.match(r"RUN MAINTENANCE(\s+VACUUM)?$", c, re.I)
    if m:
        # RUN MAINTENANCE [VACUUM] — execute what SHOW MAINTENANCE
        # advises, in dependency order (compaction.run_maintenance);
        # VACUUM opts into the history-for-space trade explicitly.
        from nimble_spark.sources.compaction import run_maintenance

        done = run_maintenance(spark, path, vacuum=bool(m.group(1)))
        return spark.createDataFrame(
            [(r["action"], r["result"]) for r in done] or [(None, None)],
            "action STRING, result STRING",
        ).filter("action IS NOT NULL")
    if u == "SHOW METRICS":
        return show_metrics(spark, path)
    if u == "SHOW WRITE STATS":
        return show_write_stats(spark, path)
    if u == "SHOW HISTORY":
        return show_history(spark, path)
    if u == "ENCODING BENCH":
        return encoding_bench(spark)
    if u == "SHOW TABLES":
        return list_tables(spark, os.path.dirname(path.rstrip("/")))
    if u == "SHOW TRASH":
        return show_trash(spark, path)
    if u == "SHOW CONSTRAINTS":
        m = read_manifest(path)
        rows = sorted(m.get("constraints", {}).items())
        return spark.createDataFrame(
            rows or [(None, None)], "name STRING, expression STRING"
        ).filter("name IS NOT NULL")
    if u == "SHOW TAGS":
        m = read_manifest(path)
        rows = sorted((t, int(ci)) for t, ci in m.get("tags", {}).items())
        return spark.createDataFrame(
            rows or [(None, None)], "tag STRING, commit BIGINT"
        ).filter("tag IS NOT NULL")
    if u == "SHOW PROPERTIES":
        from nimble_spark.sources.table import table_properties

        rows = sorted(table_properties(path).items())
        return spark.createDataFrame(
            rows or [(None, None)], "key STRING, value STRING"
        ).filter("key IS NOT NULL")
    m = re.match(r"SET PROPERTY\s+([\w.]+)\s*=\s*'?([^']*?)'?$", c, re.I)
    if m:
        from nimble_spark.sources.table import set_table_property

        set_table_property(path, m.group(1), m.group(2))
        return spark.createDataFrame(
            [(m.group(1), m.group(2))], "key STRING, value STRING"
        )
    m = re.match(r"UNSET PROPERTY\s+([\w.]+)$", c, re.I)
    if m:
        from nimble_spark.sources.table import unset_table_property

        unset_table_property(path, m.group(1))
        return spark.createDataFrame([(m.group(1),)], "key STRING")
    m = re.match(r"EXPIRE SNAPSHOTS\s+KEEP\s+(\d+)$", c, re.I)
    if m:
        from nimble_spark.sources.table import expire_snapshots

        em = expire_snapshots(path, keep_last=int(m.group(1)))
        cs = em.get("commits", [])
        return spark.createDataFrame(
            [(len(cs), int(cs[0]["commit"]) if cs else None)],
            "retained_commits INT, base_commit BIGINT",
        )
    m = re.match(r"REPLICATE\s+FROM\s+'([^']+)'\s+KEY\s+(\w+)$", c, re.I)
    if m:
        # REPLICATE FROM 'src' KEY k — one scheduled-sync step of the
        # CDC replication loop into THIS table (merge.replicate_table:
        # bootstrap → incremental → noop, cursor in the property bag)
        from nimble_spark.sources.merge import replicate_table

        r = replicate_table(spark, m.group(1), path, key=m.group(2))
        return spark.createDataFrame(
            [(r["mode"], int(r["rows_applied"]), int(r["synced_commit"]))],
            "mode STRING, rows_applied BIGINT, synced_commit BIGINT",
        )
    m = re.match(r"CLONE\s+TO\s+'([^']+)'(\s+DEEP)?$", c, re.I)
    if m:
        # CLONE TO 'path' [DEEP] — zero-copy shallow fork by default
        # (clone.py); DEEP copies the tree (full history and tags).
        from nimble_spark.sources.clone import clone_table, foreign_files

        cm = clone_table(spark, path, m.group(1), shallow=not m.group(2))
        return spark.createDataFrame(
            [
                (
                    m.group(1),
                    "deep" if m.group(2) else "shallow",
                    len(cm.get("files", []) or cm.get("file_pages", [])),
                    len(foreign_files(cm)),
                    int(cm.get("rows", 0)),
                )
            ],
            "dst STRING, mode STRING, files BIGINT, foreign BIGINT, rows BIGINT",
        )
    m = re.match(r"ALTER\s+RENAME\s+([\w.]+)\s+TO\s+([\w.]+)$", c, re.I)
    if m:
        from nimble_spark.sources.alter import alter_table

        alter_table(path, rename={m.group(1): m.group(2)})
        return describe(spark, path)
    m = re.match(r"ALTER\s+DROP\s+([\w.]+)$", c, re.I)
    if m:
        from nimble_spark.sources.alter import alter_table

        alter_table(path, drop=[m.group(1)])
        return describe(spark, path)
    m = re.match(r"ALTER\s+ADD\s+([\w.]+)\s+([\w()0-9,]+)$", c, re.I)
    if m:
        from nimble_spark.sources.alter import alter_table

        alter_table(path, add={m.group(1): m.group(2).lower()})
        return describe(spark, path)
    m = re.match(r"ALTER\s+WIDEN\s+([\w.]+)\s+([\w()0-9,]+)$", c, re.I)
    if m:
        from nimble_spark.sources.alter import alter_table

        alter_table(path, widen={m.group(1): m.group(2).lower()})
        return describe(spark, path)
    m = re.match(r"VACUUM(?:\s+MIN\s+AGE\s+(\d+))?$", c, re.I)
    if m:
        # VACUUM [MIN AGE seconds] — default grace 600 s protects a
        # concurrent write's staged files; MIN AGE 0 forces the sweep
        # when no writer can be in flight.
        from pyspark.sql import functions as F

        from nimble_spark.sources.compaction import vacuum_table

        kwargs = {"min_age_s": float(m.group(1))} if m.group(1) is not None else {}
        removed = vacuum_table(path, **kwargs)
        return spark.createDataFrame(
            [(r,) for r in removed] or [(None,)], "removed_file STRING"
        ).filter(F.col("removed_file").isNotNull())
    m = re.match(r"EXPLAIN\s+PRUNING\s+(\w+)\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)$", c, re.I)
    if m:
        return explain_pruning_df(spark, path, m.group(1), lo=_lit(m.group(2)), hi=_lit(m.group(3)))
    m = re.match(r"EXPLAIN\s+PRUNING\s+(\w+)\s+IN\s*\((.+)\)$", c, re.I)
    if m:
        vals = [_lit(v.strip()) for v in m.group(2).split(",")]
        return explain_pruning_df(spark, path, m.group(1), values=vals)
    if u.startswith("SHOW SCAN METRICS"):
        rest = c[len("SHOW SCAN METRICS"):].strip()
        m = re.match(r"WHERE\s+(.+)$", rest, re.I)
        return show_scan_metrics(spark, path, where=m.group(1) if m else None)
    if u in ("SHOW ENCODING REPORT", "ENCODING REPORT"):
        from nimble_spark.sources.encoding_report import encoding_report

        return encoding_report(spark, path)
    m = re.match(r"SELECT\s+SUM\(\s*(\w+)\s*\)(?:\s+FROM\s+\S+)?$", c, re.I)
    if m:
        # SUM(col)-only: the statistics path when the column carries a
        # sum synopsis (exact string rendering, SHOW SUMS discipline)
        from nimble_spark.sources.compaction import fast_sum

        r = fast_sum(path, m.group(1))
        s = r["sum"]
        return spark.createDataFrame(
            [(
                str(s) if isinstance(s, int) else repr(float(s)),
                "statistics (per-file sum synopses; zero data IO)",
            )],
            "sum STRING, answered_by STRING",
        )
    m = re.match(
        r"SELECT\s+COUNT\(\s*DISTINCT\s+(\w+)\s*\)(?:\s+FROM\s+\S+)?$", c, re.I
    )
    if m:
        from nimble_spark.sources.compaction import fast_ndv

        r = fast_ndv(path, m.group(1))
        how = "exact" if r["exact"] else f"KMV estimate (k={r['k']})"
        return spark.createDataFrame(
            [(r["ndv"], bool(r["exact"]), f"statistics ({how}; zero data IO)")],
            "count BIGINT, exact BOOLEAN, answered_by STRING",
        )
    m = re.match(r"SELECT\s+COUNT\(\s*\*\s*\)(?:\s+FROM\s+\S+)?$", c, re.I)
    if m:
        # COUNT(*)-only goes through the statistics path: pure manifest
        # arithmetic, zero data IO (fast_count — which refuses loudly
        # under pending delete masks, same fence as every fast_*). The
        # answered_by column is the explain line: a user sees WHERE the
        # number came from, the reference's stats short-circuit made
        # visible (docs/NimbleDSL.md SELECT semantics).
        from nimble_spark.sources.compaction import fast_count

        n = fast_count(spark, path)
        return spark.createDataFrame(
            [(n, "statistics (manifest row counts; zero data IO)")],
            "count BIGINT, answered_by STRING",
        )
    m = re.match(r"SELECT\s+(.+)$", c, re.I | re.S)
    if m:
        # Reference grammar (docs/NimbleDSL.md:27-35): LIMIT / OFFSET /
        # STRIPE may appear in ANY order after the column list, and a
        # FROM clause is accepted and silently ignored for SQL
        # familiarity. Columns are space- or comma-separated.
        rest = m.group(1)
        limit, offset, stripe = 20, 0, None
        clause = re.compile(r"\s+(LIMIT|OFFSET|STRIPE|FROM)\s+(\S+)\s*$", re.I)
        while True:
            cm = clause.search(rest)
            if not cm:
                break
            kw = cm.group(1).upper()
            if kw == "FROM":
                pass  # accepted, ignored
            elif not cm.group(2).isdigit():
                raise ValueError(f"{kw} expects a number, got {cm.group(2)!r}")
            elif kw == "LIMIT":
                limit = int(cm.group(2))
            elif kw == "OFFSET":
                offset = int(cm.group(2))
            else:
                stripe = int(cm.group(2))
            rest = rest[: cm.start()]
        cols = [x for x in re.split(r"[\s,]+", rest.strip()) if x]
        cols = None if cols == ["*"] else cols
        return select(spark, path, columns=cols, limit=limit, offset=offset, stripe=stripe)
    raise ValueError(f"unknown DSL command: {command!r}")


def main() -> None:  # pragma: no cover - thin CLI
    """The NimbleDSL CLI (docs/NimbleDSL.md `./nimble_dsl -- <file>`):

      python -m nimble_spark.tools <table-path>               # REPL
      python -m nimble_spark.tools <table-path> "<command>"   # one-shot

    The REPL matches the reference's ergonomics: `nimble>` prompt,
    case-insensitive commands, optional trailing semicolons/commas,
    HELP for a summary, QUIT / EXIT / Ctrl-D to leave, and errors
    printed without killing the session."""
    import sys

    from nimble_spark.session import get_spark

    path = sys.argv[1]
    spark = get_spark("nimble-dsl")
    command = " ".join(sys.argv[2:])
    if command:
        run_command(spark, path, command).show(100, truncate=False)
        return
    while True:
        try:
            line = input("nimble> ").strip()
        except EOFError:
            break
        if not line:
            continue
        if line.strip().rstrip(";,").strip().upper() in ("QUIT", "EXIT"):
            break
        try:
            run_command(spark, path, line).show(100, truncate=False)
        except Exception as exc:  # surface, keep the session alive
            print(f"error: {exc}")


if __name__ == "__main__":  # pragma: no cover
    main()


# ---------------------------------------------------------------------------
# Encoding micro-bench (tools/encoding_bench analogue)
# ---------------------------------------------------------------------------

# The reference ships an offline encoding bench: N elements per
# encoding × a set of synthetic data patterns, reporting Raw(KB),
# Encoded(KB), Ratio (dwio/nimble/encodings/benchmarks/README.md:1-70,
# EncodingComparison.cpp). The Spark-side selection machinery is
# parquet's (dictionary/RLE/delta + codec), so the analogue measures
# what PARQUET's encoding stack does to the same patterns — the
# observability a format engineer uses to sanity-check the
# encoding-selection policy (sources/encoding_policy.py) against
# ground truth.

_BENCH_PATTERNS = (
    # (name, SQL expression over a sequential id column)
    ("constant", "CAST(42 AS BIGINT)"),
    ("sequential", "id"),
    ("run_length", "id DIV 1000"),  # long runs
    ("low_card_64", "id % 64"),
    ("random_like", "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 8), 16, 10) AS BIGINT)"),
    ("zipf_strings", "concat('v', CAST(CAST(sqrt(id % 10000) AS INT) AS STRING))"),
    ("uuid_strings", "md5(CAST(id AS STRING))"),
)


def encoding_bench(spark: SparkSession, n_rows: int = 100_000) -> DataFrame:
    """Write each synthetic pattern through the connector and report
    raw vs encoded size and the encodings parquet selected — the
    encoding_bench tool analogue. Raw(B) = in-memory width of the
    logical values (8 B per int64, byte length per string, the
    reference's rawSize accounting); Encoded(B) = on-disk column
    bytes from the footers."""
    import tempfile

    from nimble_spark.sources.table import WriteOptions, write_table

    out = []
    for name, expr in _BENCH_PATTERNS:
        df = spark.range(n_rows).selectExpr(f"{expr} AS v")
        is_str = dict(df.dtypes)["v"] == "string"
        raw = (
            df.selectExpr("CAST(SUM(length(v)) AS BIGINT) AS b").first()["b"]
            if is_str
            else n_rows * 8
        )
        tmp = tempfile.mkdtemp(prefix="nimble_encbench_") + "/t"
        write_table(df, tmp, WriteOptions())
        encoded = 0
        encodings: set[str] = set()
        m = read_manifest(tmp)
        for f in m["files"]:
            md = pa_pq.ParquetFile(os.path.join(tmp, f["path"])).metadata
            for i in range(md.num_row_groups):
                col = md.row_group(i).column(0)
                encoded += col.total_compressed_size
                encodings.update(col.encodings)
        out.append(
            (
                name,
                n_rows,
                int(raw),
                int(encoded),
                round(raw / encoded, 2) if encoded else None,
                ",".join(sorted(encodings)),
            )
        )
    return spark.createDataFrame(
        out,
        "pattern STRING, n BIGINT, raw_bytes BIGINT, encoded_bytes BIGINT, ratio DOUBLE, encodings STRING",
    )


def list_tables(spark: SparkSession, root: str) -> DataFrame:
    """SHOW TABLES: catalog listing over a directory of nimble tables
    (immediate subdirectories holding a manifest). Metadata-only —
    one manifest read per table, no data touched."""
    rows = []
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        try:
            m = read_manifest(p)
        except (OSError, ValueError, KeyError):
            continue
        idx = m.get("indexes", {})
        rows.append(
            (
                name,
                int(m.get("rows", 0)),
                len(m.get("files", [])),
                int(sum(f.get("bytes", 0) for f in m.get("files", []))),
                len(m.get("commits", [])),
                ",".join(sorted(idx.keys())) or None,
            )
        )
    return spark.createDataFrame(
        rows, "table STRING, rows BIGINT, n_files INT, bytes BIGINT, n_commits INT, indexes STRING"
    )
