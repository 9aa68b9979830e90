"""Bloom-filter index probing (SURVEY §2.4 BloomFilter row).

The reference attaches split-block bloom filters to its index streams
(dwio/nimble/index/BloomFilter.h:34) so point lookups on unsorted,
unbucketed data can skip whole stripes without touching values. The
Spark-native analogue: parquet's own column-level bloom filters,
written via ``parquet.bloom.filter.enabled#col`` (WriteOptions.
bloom_cols) and probed here straight from the file footers through the
JVM's ParquetFileReader — a metadata-only read (footer + bloom bytes,
no data pages).

``bloom_prune_files`` is the scan-path entry: given a probe set, keep
only the files whose bloom for the key column might contain at least
one probe value. On unsorted data min/max pruning keeps every file
(each file's range spans the whole key domain), so blooms are the only
skip mechanism — the exact niche the reference built its BloomFilter
index for.

Scale posture: probing is driver-side but metadata-bounded —
O(n_files × n_probe_values) bloom tests over footers that the
manifest-build step already reads; no data rows ever reach the
driver. A cluster deployment would additionally cache the bloom bytes
in the table manifest at write time (same lifecycle as the min/max
stats) so lookups touch no file at all; the probe API here is the
shape that cache would serve.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import SparkSession


def _hash_value(jvm, gw, bloom, primitive: str, v: Any):
    """Hash one probe value with the bloom's own hash function, forcing
    the overload that matches the column's parquet primitive type.

    py4j's automatic dispatch picks ``hash(int)`` for small Python
    ints, which silently disagrees with the ``hash(long)`` the writer
    used on INT64 columns — every membership test would come back
    False. Reflection with an explicit parameter-type array pins the
    right overload; Method.invoke unboxes the wrapper to the
    primitive.
    """
    if primitive == "INT64":
        cls, box = jvm.java.lang.Long.TYPE, jvm.java.lang.Long.valueOf(int(v))
    elif primitive == "INT32":
        cls, box = jvm.java.lang.Integer.TYPE, jvm.java.lang.Integer.valueOf(int(v))
    elif primitive == "DOUBLE":
        cls, box = jvm.java.lang.Double.TYPE, jvm.java.lang.Double.valueOf(float(v))
    elif primitive == "FLOAT":
        cls, box = jvm.java.lang.Float.TYPE, jvm.java.lang.Float.valueOf(float(v))
    elif primitive == "BINARY":
        cls = jvm.java.lang.Class.forName("org.apache.parquet.io.api.Binary")
        box = jvm.org.apache.parquet.io.api.Binary.fromString(str(v))
    else:
        return None
    cls_arr = gw.new_array(jvm.java.lang.Class, 1)
    cls_arr[0] = cls
    arg_arr = gw.new_array(jvm.java.lang.Object, 1)
    arg_arr[0] = box
    return bloom.getClass().getMethod("hash", cls_arr).invoke(bloom, arg_arr)


def bloom_probe_file(
    spark: SparkSession, file_path: str, column: str, values: Iterable[Any]
) -> dict[str, Any]:
    """Probe one parquet file's bloom filter(s) for `column`.

    Returns ``{"has_bloom": bool, "maybe": bool}`` — ``maybe`` is True
    when ANY row group's bloom might contain ANY probe value (or when
    no bloom / unsupported type, i.e. probing can never veto a read it
    isn't sure about).
    """
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(file_path)
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(jpath, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    has_bloom = False
    try:
        footer = reader.getFooter()
        for bi in range(footer.getBlocks().size()):
            block = footer.getBlocks().get(bi)
            cols = block.getColumns()
            kcol = None
            for ci in range(cols.size()):
                if cols.get(ci).getPath().toDotString() == column:
                    kcol = cols.get(ci)
                    break
            if kcol is None or kcol.getBloomFilterOffset() < 0:
                return {"has_bloom": has_bloom, "maybe": True}
            bloom = reader.getBloomFilterDataReader(block).readBloomFilter(kcol)
            if bloom is None:
                return {"has_bloom": has_bloom, "maybe": True}
            has_bloom = True
            primitive = kcol.getPrimitiveType().getPrimitiveTypeName().name()
            for v in values:
                h = _hash_value(jvm, gw, bloom, primitive, v)
                if h is None:  # unsupported type — cannot veto
                    return {"has_bloom": has_bloom, "maybe": True}
                if bloom.findHash(h):
                    return {"has_bloom": True, "maybe": True}
        return {"has_bloom": has_bloom, "maybe": False}
    finally:
        reader.close()


SIDECAR_DIR = os.path.join("_nimble", "index", "bloom")


def build_bloom_sidecar(spark: SparkSession, path: str, column: str) -> int:
    """Extract every (file, row-group) bloom bitset for `column` into
    ONE sidecar parquet under ``_nimble/index/bloom/<column>.parquet``
    — the reference's separately-stored index stream
    (dwio/nimble/index/BloomFilter.h: blooms live in the index
    stripes, not the data). Probes then read a single small file
    instead of opening every data footer: at 10⁶ files that is the
    difference between one read and a million. Returns the number of
    blooms captured. Size the bitsets with
    ``WriteOptions.bloom_expected_ndv`` — the parquet default is
    1 MB per bloom; a right-sized one is KBs."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from nimble_spark.sources.table import read_manifest

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    m = read_manifest(path)
    files, rgs, blobs, prims = [], [], [], []
    for f in m["files"]:
        fpath = os.path.join(path, f["path"])
        jpath = jvm.org.apache.hadoop.fs.Path(fpath)
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(jpath, conf)
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            footer = reader.getFooter()
            for bi in range(footer.getBlocks().size()):
                block = footer.getBlocks().get(bi)
                cols = block.getColumns()
                kcol = None
                for ci in range(cols.size()):
                    if cols.get(ci).getPath().toDotString() == column:
                        kcol = cols.get(ci)
                        break
                if kcol is None or kcol.getBloomFilterOffset() < 0:
                    continue
                bloom = reader.getBloomFilterDataReader(block).readBloomFilter(kcol)
                if bloom is None:
                    continue
                baos = jvm.java.io.ByteArrayOutputStream()
                bloom.writeTo(baos)
                files.append(os.path.normpath(f["path"]))
                rgs.append(bi)
                blobs.append(bytes(baos.toByteArray()))
                prims.append(kcol.getPrimitiveType().getPrimitiveTypeName().name())
        finally:
            reader.close()
    out_dir = os.path.join(path, SIDECAR_DIR)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"file": files, "rg": rgs, "bloom": blobs, "primitive": prims})
    pa_pq.write_table(table, os.path.join(out_dir, f"{column}.parquet"), compression="zstd")
    return len(blobs)


def _sidecar_probe(
    spark: SparkSession, root: str, manifest: dict, key: str, values: list
) -> list[str] | None:
    """Probe from the sidecar (no data-file opens). Returns None when
    the sidecar is absent or does not cover every manifest file (e.g.
    after compaction rewrote files) — caller falls back to footers."""
    import pyarrow.parquet as pa_pq

    sc_path = os.path.join(root, SIDECAR_DIR, f"{key}.parquet")
    if not os.path.exists(sc_path):
        return None
    t = pa_pq.read_table(sc_path)
    by_file: dict[str, list[bytes]] = {}
    for fname, blob in zip(t.column("file").to_pylist(), t.column("bloom").to_pylist()):
        by_file.setdefault(fname, []).append(blob)
    want = {os.path.normpath(f["path"]) for f in manifest["files"]}
    if not want <= set(by_file):
        return None
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    # the column's parquet primitive type rides in the sidecar, so
    # the probe hashes with the exact overload the writer used
    prims = set(t.column("primitive").to_pylist())
    if len(prims) != 1:
        return None
    primitive = prims.pop()
    keep = []
    B = jvm.org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
    for f in manifest["files"]:
        rel = os.path.normpath(f["path"])
        maybe = False
        for blob in by_file[rel]:
            bloom = B(blob)
            for v in values:
                h = _hash_value(jvm, gw, bloom, primitive, v)
                if h is None:
                    return None
                if bloom.findHash(h):
                    maybe = True
                    break
            if maybe:
                break
        if maybe:
            keep.append(os.path.join(root, f["path"]))
    return keep


def explain_pruning(
    spark: SparkSession,
    path: str,
    key: str,
    lo: Any = None,
    hi: Any = None,
    values: list | None = None,
) -> list[dict]:
    """Dry-run the file-skipping decision ``read_table`` takes for
    ``range_scan=(key, lo, hi)``, or for ``point_lookup=(key, values)``
    when ``values`` is given, without reading any data: per file,
    whether the scan reads it and which tier dropped it if not
    (``range`` = its manifest stats exclude the predicate; else the
    index that vetoed it: ``sorted``, ``bloom`` or ``hash``; ``kept``
    = must be read). The "why is my query reading 10k files" debugging
    tool — the reference's index-selection trace made queryable."""
    from nimble_spark.sources.merge import _bucket_of
    from nimble_spark.sources.table import (
        _bucket_ids,
        _point_lookup_entries,
        _prune_entries,
        _range_constraints,
        _range_scan_entries,
        read_manifest,
    )

    m = read_manifest(path)
    hash_idx = m.get("indexes", {}).get("hash")
    if values is None:
        cons = _range_constraints(key, lo, hi)
        tier, kept = "range", _range_scan_entries(m, path, key, lo, hi)
    else:
        values = [v for v in values if v is not None]
        cons = [(key, "in", values)]
        if not values:
            tier, kept = "range", []
        elif hash_idx and hash_idx["key"] == key:
            ids = set(spark.range(1).select(*_bucket_ids(m, key, values)).first())
            tier, kept = "hash", [f for f in m["files"] if _bucket_of(f["path"]) in ids]
        else:
            tier, kept = _point_lookup_entries(spark, path, m, key, values)
    read = None if kept is None else {f["path"] for f in kept}
    admitted = {f["path"] for f in _prune_entries(m, path, cons)}
    out = []
    for f in m["files"]:
        if read is None or f["path"] in read:
            verdict = "kept"
        else:
            verdict = tier if f["path"] in admitted else "range"
        out.append({"file": f["path"], "kept": verdict == "kept", "pruned_by": verdict})
    return out


def bloom_prune_files(
    spark: SparkSession, manifest: dict, root: str, key: str, values: Iterable[Any]
) -> list[str] | None:
    """File list for a point lookup on a bloom-indexed column, or None
    when the table has no bloom index on `key` (caller falls back to
    min/max pruning). Files whose blooms definitively exclude every
    probe value are skipped. Probes prefer the sidecar index (one
    small read); footer probing is the fallback."""
    bloom_keys = manifest.get("indexes", {}).get("bloom", {}).get("keys", [])
    if key not in bloom_keys:
        return None
    values = list(values)
    via_sidecar = _sidecar_probe(spark, root, manifest, key, values)
    if via_sidecar is not None:
        return via_sidecar
    keep = []
    for f in manifest["files"]:
        fpath = os.path.join(root, f["path"])
        if bloom_probe_file(spark, fpath, key, values)["maybe"]:
            keep.append(fpath)
    return keep
