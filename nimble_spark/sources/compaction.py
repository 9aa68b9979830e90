"""Table maintenance: small-file compaction, vacuum, stats-answered
counts.

Compaction is the OPTIMIZE primitive of the table layer.

Streaming appends (streaming/sink.py) and fine-grained batch writes
commit one-or-more files per micro-batch; at 100 TB the accumulated
small files dominate scan cost (per-file open + footer read, tiny
row groups, no vectorization runway). ``compact_table`` merges
adjacent-in-manifest small files into ~``target_file_bytes`` files
and rebuilds the manifest, leaving already-large files untouched —
a partial rewrite, NOT a full-table rewrite, so compaction cost is
proportional to the small-file debt, not table size.

Adjacency matters: on a cluster-indexed table the manifest file order
is the cluster range order, so merging only adjacent bins keeps the
per-file [min,max] key ranges disjoint and every index-pruning path
(_prune_entries) exactly as selective as before, just with fewer files.

The reference's analogue is the writer's stripe-grouping discipline
(flush policy targets a stripe size, dwio/nimble/velox/
VeloxWriterOptions.h flush policy); compaction is that policy applied
retroactively to a table that accumulated undersized stripes.

Scale posture: each output bin is written by one task (the bin is
read with a single-partition coalesce); distinct bins compact in
parallel across the cluster via independent jobs. No shuffle — bin
inputs stream straight to the new file.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from nimble_spark.sources.fs import get_fs
from nimble_spark.sources.deletes import has_pending_masks as _has_pending_masks
from nimble_spark.sources.table import (
    MANIFEST_DIR,
    read_manifest,
)


def _resolve_stats_key(m: dict, col: str) -> str:
    """Resolve a caller's LOGICAL column name to the PHYSICAL name the
    manifest's per-file stats are recorded under: alter.py renames map
    logical → physical, dedup_columns aliases map to the stored twin.
    Dropped and stale-physical names refuse loudly — before this, the
    stats-answered paths (fast_count/fast_minmax) errored on renamed
    names and silently ANSWERED for pre-rename physical names,
    violating the alter contract (r7 probe)."""
    mapping = m.get("schema_mapping") or {}
    ren = mapping.get("renames") or {}
    dropped = set(mapping.get("dropped") or [])
    inv = {l: p for p, l in ren.items()}
    if col in inv:
        phys = inv[col]
    elif col in dropped or col in ren:
        raise ValueError(
            f"column {col!r} is a dropped or pre-rename physical name; "
            f"use the current logical names"
        )
    else:
        phys = col
    return m.get("column_aliases", {}).get(phys, phys)


def _declared_read_schema(m: dict):
    """The manifest's declared PHYSICAL schema minus Hive partition
    columns (partition values live only in directory names, never in
    file bytes) — the explicit schema every rewrite/boundary read MUST
    use. Single-pass inference samples ONE footer, so on a legally
    mixed-schema table (alter_table ADD, or a widened append) a column
    only newer files carry would silently vanish from the merged
    output — durable data loss, not a null-fill. Under an explicit
    schema Spark null-fills per-file missing columns and reads present
    ones for real (same mixed-presence rule table._plan_parquet
    applies to scans)."""
    import pyspark.sql.types as T

    schema = T.StructType.fromJson(m["schema"])
    part_keys = set(
        (m.get("indexes", {}).get("partition") or {}).get("keys") or []
    )
    if not part_keys:
        return schema
    return T.StructType([f for f in schema.fields if f.name not in part_keys])


def plan_compaction(
    manifest: dict, target_file_bytes: int = 128 * 1024 * 1024
) -> list[list[dict]]:
    """Greedy adjacent binning: walk files in manifest order, pack
    consecutive small files (< target/2) into bins of ~target bytes.
    Files at or above half the target ride as-is. Returns only the
    bins worth rewriting (2+ files).

    Directory-shaped tables (Hive partitions, hash buckets) bin
    WITHIN each leaf directory — the directory IS the index, so a bin
    never spans two directories and the merged file stays inside the
    partition its members came from. Plain tables have a single
    implicit directory and behave exactly as before."""
    groups: dict[str, list[dict]] = {}
    for f in manifest["files"]:
        groups.setdefault(os.path.dirname(os.path.normpath(f["path"])), []).append(f)
    bins: list[list[dict]] = []
    for _dir, files in groups.items():  # insertion = manifest order
        cur: list[dict] = []
        cur_bytes = 0
        for f in files:
            if f["bytes"] >= target_file_bytes // 2:
                if len(cur) > 1:
                    bins.append(cur)
                cur, cur_bytes = [], 0
                continue
            if cur_bytes + f["bytes"] > target_file_bytes and cur:
                if len(cur) > 1:
                    bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += f["bytes"]
        if len(cur) > 1:
            bins.append(cur)
    return bins


def vacuum_table(path: str, min_age_s: float | None = None) -> list[str]:
    """Delete data files the manifest does not reference — debris from
    failed/interrupted writes. The manifest is the table's source of
    truth (the tablet footer analogue): a plain directory listing
    would happily read half-written or superseded files, so vacuuming
    keeps directory state and manifest state equal. Returns the
    root-relative paths removed. Metadata (the manifest dir) and
    non-parquet markers are never touched.

    ``min_age_s`` is the in-flight-write grace period (the Delta
    VACUUM retention analogue): a concurrent DataSource write's
    executors stage files into the table dir BEFORE its driver-side
    locked commit references them — during that window the files are
    unreferenced but must not be reclaimed, or a write that reports
    success silently loses rows. Only unreferenced files older than
    the grace are deleted; the retention trash (already superseded and
    manifest-tracked) is always reclaimed in full.

    ``min_age_s=None`` (the default) resolves the grace from the
    table's ``nimble.vacuum.min_age_s`` property when set (the
    TBLPROPERTIES retention knob, r9), else 600 s — so fleet-wide
    maintenance jobs call vacuum with no arguments and each table
    carries its own retention policy."""
    import re
    import shutil
    import time as _time

    from nimble_spark.sources.table import repair_interrupted_swap, table_properties

    if min_age_s is None:
        try:
            raw_grace = table_properties(path).get("nimble.vacuum.min_age_s")
        except (OSError, KeyError):
            raw_grace = None  # unreadable manifest: default grace
        if raw_grace is None:
            min_age_s = 600.0
        else:
            # set_table_property validates at write time; a legacy bad
            # value must refuse HERE too, not silently vacuum sooner
            # than the operator intended (ADVICE r9)
            try:
                min_age_s = float(raw_grace)
            except ValueError as e:
                raise ValueError(
                    f"table property nimble.vacuum.min_age_s={raw_grace!r} "
                    f"is not a number — fix it before vacuuming; refusing "
                    f"rather than silently using the {600.0}s default"
                ) from e

    # Finish any crashed staged-swap first (its marker names the live
    # staging/old dirs — they are recovery state, not debris), THEN
    # sweep leftover sibling dirs from staging writes that failed
    # before their marker existed. Safe under the table lock vacuum
    # already holds: no rewrite of this table can be live.
    fs = get_fs()
    repair_interrupted_swap(path)
    base = os.path.normpath(path)
    sib_re = re.compile(re.escape(os.path.basename(base)) + r"-(rewrite|old)-[0-9a-f]{8}$")
    for sib in fs.list_dir(os.path.dirname(base) or "."):
        if sib_re.fullmatch(sib):
            fs.delete_tree(os.path.join(os.path.dirname(base), sib))

    m = read_manifest(path)
    # Consumed mask batches (a published rewrite's crash window left
    # their dirs behind; the manifest fence already makes them inert)
    # are reclaimable debris like any other — the manifest entry
    # self-prunes at the next rebuild once the dirs are gone.
    from nimble_spark.sources.deletes import DELETES_DIR as _DD

    for b in m.get("consumed_masks") or []:
        fs.delete_tree(os.path.join(path, _DD, b))
    referenced = {os.path.normpath(f["path"]) for f in m["files"]}
    removed: list[str] = []
    now = _time.time()
    for root, dirs, files in fs.walk(path):
        dirs[:] = [d for d in dirs if d != MANIFEST_DIR]
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root, fn)
            rel = os.path.normpath(os.path.relpath(full, path))
            if rel in referenced:
                continue
            try:
                if now - fs.mtime(full) < min_age_s:
                    continue  # possibly a concurrent write's staged file
            except OSError:
                continue  # vanished (its own commit/cleanup) — skip
            fs.delete(full)
            crc = os.path.join(root, f".{fn}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            removed.append(rel)
    # Reclaim the retention trash: merge/update rewrites tombstone
    # their replaced files into _nimble/trash (keeping snapshots and
    # CDC replays readable); vacuum is the explicit point history is
    # traded for space.
    trash = os.path.join(path, MANIFEST_DIR, "trash")
    if os.path.isdir(trash):
        for root, _dirs, files in fs.walk(trash):
            for fn in files:
                if fn.endswith(".parquet"):
                    # real root-relative path (_nimble/trash/...), so
                    # callers (e.g. the VACUUM DSL) report paths that
                    # actually existed in the table
                    removed.append(
                        os.path.normpath(os.path.relpath(os.path.join(root, fn), path))
                    )
        fs.delete_tree(trash)
    # Uncommitted mask batches — publish_mask_batch crashed before its
    # atomic marker write — are invisible to every read (mask_batch_dirs
    # is marker-gated) and nothing else reclaims them; sweep age-gated,
    # same discipline as staged-file debris above.
    from nimble_spark.sources.deletes import mask_batch_dirs

    droot = os.path.join(path, _DD)
    if os.path.isdir(droot):
        committed = set(mask_batch_dirs(path))
        for key in os.listdir(droot):
            kdir = os.path.join(droot, key)
            if not os.path.isdir(kdir):
                continue
            for b in os.listdir(kdir):
                bdir = os.path.join(kdir, b)
                if not os.path.isdir(bdir) or f"{key}/{b}" in committed:
                    continue
                try:
                    if now - fs.mtime(bdir) >= min_age_s:
                        fs.delete_tree(bdir)
                        removed.append(
                            os.path.normpath(os.path.join(_DD, key, b))
                        )
                except OSError:
                    continue  # vanished or unstat-able: not ours to force
    return sorted(removed)


def fast_count(
    spark: SparkSession, path: str, range_filter: tuple | None = None
) -> int:
    """Statistics-answered COUNT — the reference's stats short-circuit
    (per-file row counts in the tablet footer). Unfiltered: pure
    manifest arithmetic, zero IO. With ``range_filter=(key, lo, hi)``
    (inclusive, None = open): null-free files wholly inside the range
    contribute their manifest row count without being opened; only
    boundary files — the ones whose [min,max] straddles an endpoint,
    or that hold null keys — are actually scanned. On a clustered
    table that is at most ~2 files per endpoint regardless of table
    size. Unfiltered counts read the
    ROOT only (zero page IO on a sharded manifest); filtered counts
    skip pages whose folded bounds are disjoint from the range."""
    from pyspark.sql import functions as F

    from nimble_spark.sources.table import _prune_entries, _range_constraints, _stat_bounds

    m = read_manifest(path, materialize=False)
    # the same fence as every other fast_* path (r8: fast_count was the
    # one family member WITHOUT it — manifest row counts don't know
    # about merge-on-read masks, so the stats answer would over-report)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_count on a table with pending delete masks would "
            "over-report; run compact_deletes first"
        )
    if range_filter is None:
        return int(m["rows"])
    key, lo, hi = range_filter
    # logical → stored-physical (alter renames + dedup_columns twins);
    # the boundary scan below reads files with the declared PHYSICAL
    # schema, so the resolved name is also the filter column
    key = _resolve_stats_key(m, key)
    cons = _range_constraints(key, lo, hi)
    full = 0
    boundary: list[dict] = []
    for f in _prune_entries(m, path, cons):
        inside = (f.get("nulls") or {}).get(key) == 0
        for _, kind, v in cons:
            b = _stat_bounds(f, key, v)
            inside = inside and b is not None and (b[0] >= v if kind == "ge" else b[1] <= v)
        if inside:
            full += f["rows"]
        else:
            boundary.append(f)
    if not boundary:
        return int(full)
    df = spark.read.schema(_declared_read_schema(m)).parquet(
        *[os.path.join(path, f["path"]) for f in boundary]
    )
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(key) >= lo)
    if hi is not None:
        cond = cond & (F.col(key) <= hi)
    return int(full + df.filter(cond).count())


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Merge small adjacent files into ~target-size files and publish
    the rebuilt manifest ATOMICALLY BEFORE deleting any source file —
    the same publish-first crash discipline as the copy-on-write
    rewrites (merge.py): readers are manifest-true, so the staged
    merged files are invisible until the publish, the old files stay
    readable until it, and a crash anywhere leaves either the old or
    the new table fully intact (stranded files are unreferenced debris
    for vacuum's age-gated sweep).

    Returns ``{"bins": n, "files_before": ..., "files_after": ...,
    "rows": ...}``. Hash-bucketed / Hive-partitioned tables compact
    WITHIN each leaf directory (the directory IS the index; bins
    never cross one — plan_compaction groups by directory), so every
    pruning path stays exactly as selective, just over fewer files.
    Merged files are read from the raw leaves with no partition
    discovery, so they carry exactly the physical (non-partition)
    columns every other leaf in the directory carries."""
    import pyspark.sql.types as T

    from nimble_spark.sources.table import _describe_parquet_file, _stat_cols

    m = read_manifest(path)
    idx = m.get("indexes", {})
    files_before = len(m["files"])
    bins = plan_compaction(m, target_file_bytes)
    if not bins:
        return {"bins": 0, "files_before": files_before, "files_after": files_before, "rows": m["rows"]}

    schema = T.StructType.fromJson(m["schema"])
    stat_cols = _stat_cols(schema)
    cluster_keys = (idx.get("cluster") or {}).get("keys", [])
    # Stage every bin's merged output into the table dir under a fresh
    # name, describe it, and remember which ORIGINAL position it takes
    # — the new manifest splices each merged entry where its bin's
    # first member sat, so cluster range order and row_range positions
    # survive (manifest order is the authority; see _build_manifest).
    merged_entry_at: dict[str, dict] = {}
    for b in bins:
        srcs = [os.path.join(path, f["path"]) for f in b]
        tmp = os.path.join(path, MANIFEST_DIR, f"compact-tmp-{uuid.uuid4().hex}")
        # One partition per bin. Spark schedules multi-file reads by
        # size, not name, so concatenation order is arbitrary — on a
        # clustered table re-sort the bin by the cluster keys to keep
        # the table's semantic (range) row order; plain tables have
        # no defined row order to preserve.
        merged = spark.read.schema(_declared_read_schema(m)).parquet(*srcs).coalesce(1)
        if cluster_keys:
            merged = merged.sortWithinPartitions(*cluster_keys)
        writer = merged.write.mode("overwrite").option("compression", "zstd")
        # merged files keep the table's bloom index (a plain rewrite
        # would drop the filters — still correct, never selective)
        for c in (idx.get("bloom") or {}).get("keys", []):
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")]
        assert len(part) == 1, f"expected one output file per bin, got {part}"
        # the merged file lives in its bin's directory — on a
        # partitioned/bucketed table that directory IS the index, and
        # plan_compaction guarantees the bin never crossed one
        bin_dir = os.path.dirname(os.path.normpath(b[0]["path"]))
        if os.path.isabs(bin_dir):
            # Foreign (shallow-clone) group: its members live under the
            # SOURCE table's root — the merged output must land under
            # THIS table's root, never the source's (clones refuse
            # partitioned/bucketed layouts, so no directory shape to
            # reproduce).
            bin_dir = ""
        out_name = os.path.join(bin_dir, f"compact-{uuid.uuid4().hex[:12]}.parquet")
        shutil.move(os.path.join(tmp, part[0]), os.path.join(path, out_name))
        shutil.rmtree(tmp, ignore_errors=True)
        merged_entry_at[os.path.normpath(b[0]["path"])] = _describe_parquet_file(
            os.path.join(path, out_name), path, stat_cols, m
        )

    new_m = _publish_partial_rewrite(
        path,
        m,
        bins,
        {k: [v] for k, v in merged_entry_at.items()},
        mode="compact",
        user_md={
            "compaction.files_before": str(files_before),
            "compaction.bins": str(len(bins)),
        },
        stat_cols=stat_cols,
    )
    return {
        "bins": len(bins),
        "files_before": files_before,
        "files_after": len(new_m["files"]),
        "rows": new_m["rows"],
    }


def _publish_partial_rewrite(
    path: str,
    m: dict,
    groups: list[list[dict]],
    entries_at: dict[str, list[dict]],
    mode: str,
    user_md: dict,
    stat_cols,
) -> dict:
    """Shared publish step for PARTIAL physical rewrites (compaction,
    incremental recluster, deepen_clone): splice the new entries into
    the manifest and publish it through the shared successor rule —
    atomically BEFORE any source file moves to the retention trash.

    ``groups`` are the replaced manifest entries; ``entries_at`` maps
    each group's first-member relpath to its ordered replacement
    entries (splicing at the first member keeps manifest order — the
    cluster range order authority — intact). Untouched entries keep
    their positions: verbatim when their stats and declared NDV/SUM/
    HIST synopses are complete, re-described from the file when a
    legacy entry lacks them (the same completeness rule as the
    incremental build's reuse filter). The prior stats generation
    carries: untouched entries pass through verbatim, so a pre-fix
    table stays marked pre-fix (read guard active, next append
    repairs) and a healthy one is not silently downgraded.

    Everything table-level carries: this is a physical rewrite, not a
    new table. Streaming offsets (commit indices) stay valid — replays
    of windows whose files were rewritten away fail LOUDLY via
    resolve_historical_file until vacuum, like any rewrite — and
    appends keep validating the table's constraints. The rewrite logs
    a data_change=False commit (the Delta OPTIMIZE marker): snapshot
    replays APPLY it, CDC/stream consumers SKIP it — re-emitting 100 TB
    of unchanged rows through every downstream stream because the
    layout changed would be the scale anti-pattern."""
    from nimble_spark.sources.table import _describe_parquet_file, _publish_successor

    replaced = {os.path.normpath(f["path"]) for g in groups for f in g}
    want = ["nulls", "min"] + [
        key
        for key, decl in (
            ("ndv", "ndv_columns"), ("sums", "sum_columns"), ("hist", "histogram_columns")
        )
        if m.get(decl)
    ]
    files_info: list[dict] = []
    for f in m["files"]:
        rel = os.path.normpath(f["path"])
        if rel in entries_at:
            files_info.extend(entries_at[rel])
        elif rel not in replaced:
            files_info.append(
                f
                if all(k in f for k in want)
                else _describe_parquet_file(os.path.join(path, rel), path, stat_cols, m)
            )
    # base = the log this rewrite derived from (a concurrent streaming
    # micro-batch merges in, never erased); the replaced sources stay
    # in the retention trash so snapshots and CDC replays spanning the
    # rewrite keep reading until VACUUM
    return _publish_successor(
        path,
        m,
        {"files": files_info, "user_metadata": user_md},
        mode,
        [e["path"] for v in entries_at.values() for e in v],
        replaced=sorted(replaced),
        entry={"data_change": False},
    )


def fast_ndv(path: str, col: str) -> dict:
    """Statistics-answered COUNT(DISTINCT): fold the per-file KMV
    synopses (WriteOptions.ndv_columns) — pure manifest arithmetic,
    zero data IO at any table size. The fold is a set union of the
    k-minimum hashes, associative and commutative, so 10⁶ shards merge
    exactly like 10 (the mergeable-sketch property; same class as
    operators/sketches.py, here persisted in the table metadata the
    way the reference persists per-stripe stats, ChunkStats).

    Returns ``{"ndv": n, "exact": bool, "k": K}``: EXACT when the
    merged synopsis holds fewer than K hashes (every distinct value's
    hash is present), else the standard KMV estimator
    ``(K-1) / (h_(K) / 2⁶⁴)`` — the documented estimate regime
    (SURVEY §7's "exact-NDV at 100 TB" hard part).

    Correctness fences, same discipline as fast_minmax: pending
    delete masks raise (the synopsis can't un-count masked rows);
    files written before the column was declared raise (rewrite or
    compact to refresh — maintenance keeps synopses complete)."""
    import os as _os

    from nimble_spark.sources.table import NDV_K

    m = read_manifest(path)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_ndv on a table with pending delete masks would "
            "over-report; run compact_deletes first"
        )
    col_p = _resolve_stats_key(m, col)
    declared = m.get("ndv_columns") or []
    if col_p not in declared:
        raise ValueError(
            f"no NDV synopsis declared for column {col!r} — write the "
            f"table with WriteOptions(ndv_columns=[...{col!r}...])"
        )
    union: set = set()
    all_complete = True
    for f in m["files"]:
        hs = (f.get("ndv") or {}).get(col_p)
        if hs is None:
            raise ValueError(
                f"file {f['path']} lacks an NDV synopsis for {col!r} "
                f"(written before the column was declared); compact or "
                f"rewrite to refresh"
            )
        # a synopsis shorter than K holds EVERY distinct hash in its
        # file; if no file's synopsis was truncated, the union is the
        # complete global distinct set — exact even above K (ADVICE r7:
        # don't truncate to K and estimate when exactness is derivable)
        if len(hs) >= NDV_K:
            all_complete = False
        union.update(hs)
    if all_complete:
        return {"ndv": len(union), "exact": True, "k": NDV_K}
    merged = sorted(union)[:NDV_K]
    if len(merged) < NDV_K:
        return {"ndv": len(merged), "exact": True, "k": NDV_K}
    kth = merged[-1] / float(1 << 64)
    return {"ndv": int(round((NDV_K - 1) / kth)), "exact": False, "k": NDV_K}


def fast_sum(path: str, col: str) -> dict:
    """Statistics-answered SUM/AVG from the per-file sum synopses
    (WriteOptions.sum_columns) — pure manifest arithmetic, zero data
    IO, and EXACT at any file count: the per-file values are integers
    (ints natively; floats per-value quantized to FLOOR(x·10⁶+0.5),
    the exact.py lsum discipline), so the fold is associative integer
    addition — the shard-merge property every 1000-executor
    aggregation wants, persisted in the table metadata.

    Returns ``{"sum": value, "rows": n, "avg": value}`` (floats come
    back de-scaled). Same correctness fences as fast_ndv/fast_minmax:
    pending delete masks raise; undeclared/stale columns raise; files
    written before the declaration raise (maintenance refreshes)."""
    import os as _os

    import pyspark.sql.types as T

    from nimble_spark.sources.table import SUM_SCALE

    m = read_manifest(path)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_sum on a table with pending delete masks would "
            "over-report; run compact_deletes first"
        )
    col_p = _resolve_stats_key(m, col)
    declared = m.get("sum_columns") or []
    if col_p not in declared:
        raise ValueError(
            f"no SUM synopsis declared for column {col!r} — write the "
            f"table with WriteOptions(sum_columns=[...{col!r}...])"
        )
    total = 0
    for f in m["files"]:
        s = (f.get("sums") or {}).get(col_p)
        if s is None:
            raise ValueError(
                f"file {f['path']} lacks a SUM synopsis for {col!r} "
                f"(written before the column was declared); compact or "
                f"rewrite to refresh"
            )
        total += s
    dtype = {
        fld["name"]: T.StructField.fromJson(fld).dataType.simpleString()
        for fld in m["schema"]["fields"]
    }.get(col_p, "")
    rows = int(m["rows"])
    if dtype in ("float", "double"):
        val = total / SUM_SCALE
    else:
        val = total
    return {"sum": val, "rows": rows, "avg": (val / rows) if rows else None}


def fast_grouped_sum(path: str, col: str) -> list[tuple]:
    """GROUP BY the Hive partition key, SUM(col) — from metadata
    alone: each file's exact sum synopsis (fast_sum's fences apply)
    keyed by the partition value its path carries. A one-partition-key
    table's whole rollup dashboard costs zero data IO at any size —
    the statistics-answered form of q_materialized_rollup, with the
    same exactness guarantee as fast_sum (associative integer fold
    per group). Returns ``[(partition_value, sum), ...]`` sorted by
    partition value, floats de-scaled."""
    import os as _os

    import pyspark.sql.types as T

    from nimble_spark.sources.datasource import (
        _parse_partition_value,
        _path_partition_values,
    )
    from nimble_spark.sources.table import SUM_SCALE

    m = read_manifest(path)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_grouped_sum on a table with pending delete masks would "
            "over-report; run compact_deletes first"
        )
    keys = (m.get("indexes", {}).get("partition") or {}).get("keys") or []
    if len(keys) != 1:
        raise ValueError(
            f"fast_grouped_sum groups by the table's single Hive partition "
            f"key; this table declares {keys or 'none'}"
        )
    pkey = keys[0]
    col_p = _resolve_stats_key(m, col)
    if col_p not in (m.get("sum_columns") or []):
        raise ValueError(
            f"no SUM synopsis declared for column {col!r} — write the "
            f"table with WriteOptions(sum_columns=[...{col!r}...])"
        )
    ptype = {
        f["name"]: T.StructField.fromJson(f).dataType.simpleString()
        for f in m["schema"]["fields"]
    }
    groups: dict = {}
    for f in m["files"]:
        s = (f.get("sums") or {}).get(col_p)
        if s is None:
            raise ValueError(
                f"file {f['path']} lacks a SUM synopsis for {col!r}; "
                f"compact or rewrite to refresh"
            )
        raw = _path_partition_values(f["path"]).get(pkey)
        pv = _parse_partition_value(raw, ptype.get(pkey, "string"))
        groups[pv] = groups.get(pv, 0) + s
    scale = SUM_SCALE if ptype.get(col_p) in ("float", "double") else 1
    return sorted(
        (pv, (v / scale if scale != 1 else v)) for pv, v in groups.items()
    )


def _partition_scope(m: dict, partition) -> list[dict]:
    """The manifest entries belonging to one Hive partition value —
    the file subset every partition-scoped fast_* folds over. Raises
    when the named key is not a declared partition key (a typo must
    not silently fold the WHOLE table)."""
    if partition is None:
        return m["files"]
    import pyspark.sql.types as T

    from nimble_spark.sources.datasource import (
        _parse_partition_value,
        _path_partition_values,
    )

    pkey, pval = partition
    keys = (m.get("indexes", {}).get("partition") or {}).get("keys") or []
    if pkey not in keys:
        raise ValueError(
            f"{pkey!r} is not a partition key of this table "
            f"(declared: {keys or 'none'})"
        )
    ptype = {
        f["name"]: T.StructField.fromJson(f).dataType.simpleString()
        for f in m["schema"]["fields"]
    }.get(pkey, "string")
    out = []
    for f in m["files"]:
        raw = _path_partition_values(f["path"]).get(pkey)
        if raw is not None and _parse_partition_value(raw, ptype) == pval:
            out.append(f)
    return out


def fast_partition_stats(path: str, partition: tuple) -> dict:
    """Everything the synopses know about ONE partition, zero data IO:
    ``{"rows": n, "sums": {col: v}, "ndv": {col: n}, "value_counts":
    {col: {...}}}`` folded from just that partition's file entries —
    the per-slice dashboard (per-language corpus stats, per-status
    order rollups) at any table size. Same fences as the global
    fast_* family (masks refuse; synopses must be complete)."""
    import os as _os

    import pyspark.sql.types as T

    from nimble_spark.sources.table import NDV_K, SUM_SCALE

    m = read_manifest(path)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_partition_stats on a table with pending delete masks "
            "would over-report; run compact_deletes first"
        )
    files = _partition_scope(m, partition)
    dtype = {
        f["name"]: T.StructField.fromJson(f).dataType.simpleString()
        for f in m["schema"]["fields"]
    }
    out: dict = {"rows": int(sum(f["rows"] for f in files))}
    # per-partition MIN/MAX come free: every entry already carries
    # per-file bounds for the stat columns (no declaration needed)
    mins: dict = {}
    maxs: dict = {}
    for f in files:
        for c, v in (f.get("min") or {}).items():
            if v is not None and (c not in mins or v < mins[c]):
                mins[c] = v
        for c, v in (f.get("max") or {}).items():
            if v is not None and (c not in maxs or v > maxs[c]):
                maxs[c] = v
    if mins:
        out["min"] = mins
        out["max"] = maxs
    sums: dict = {}
    for c in m.get("sum_columns") or []:
        total = 0
        for f in files:
            s = (f.get("sums") or {}).get(c)
            if s is None:
                raise ValueError(
                    f"file {f['path']} lacks a SUM synopsis for {c!r}; "
                    f"compact or rewrite to refresh"
                )
            total += s
        sums[c] = total / SUM_SCALE if dtype.get(c) in ("float", "double") else total
    if sums:
        out["sums"] = sums
    ndv: dict = {}
    for c in m.get("ndv_columns") or []:
        union: set = set()
        complete = True
        for f in files:
            hs = (f.get("ndv") or {}).get(c)
            if hs is None:
                raise ValueError(
                    f"file {f['path']} lacks an NDV synopsis for {c!r}; "
                    f"compact or rewrite to refresh"
                )
            if len(hs) >= NDV_K:
                complete = False
            union.update(hs)
        if complete or len(union) < NDV_K:
            ndv[c] = len(union) if complete else len(sorted(union)[:NDV_K])
        else:
            kth = sorted(union)[NDV_K - 1] / float(1 << 64)
            ndv[c] = int(round((NDV_K - 1) / kth))
    if ndv:
        out["ndv"] = ndv
    vcs: dict = {}
    for c in m.get("histogram_columns") or []:
        folded: dict = {}
        for f in files:
            h = (f.get("hist") or {}).get(c)
            if h is None:
                raise ValueError(
                    f"file {f['path']} lacks a value histogram for "
                    f"{c!r}; compact or rewrite to refresh"
                )
            if h.get("overflow"):
                raise ValueError(
                    f"column {c!r} exceeded HIST_K in file {f['path']}"
                )
            for v, n in h["counts"]:
                folded[v] = folded.get(v, 0) + n
        vcs[c] = folded
    if vcs:
        out["value_counts"] = vcs
    return out


def _folded_histogram(path: str, col: str) -> dict:
    """Fold the per-file value histograms into the table's exact
    value→count map (associative integer addition per value — the
    shard-merge property; 10⁶ files fold like 10). Shared fences with
    the rest of the fast_* family: pending delete masks raise;
    undeclared/stale columns raise; files written before the
    declaration raise; an OVERFLOWED per-file histogram (the column
    exceeded HIST_K distincts in that file) raises rather than
    estimates — this tier is exact or loud."""
    import os as _os

    from nimble_spark.sources.table import HIST_K

    m = read_manifest(path)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_value_counts on a table with pending delete masks "
            "would over-report; run compact_deletes first"
        )
    col_p = _resolve_stats_key(m, col)
    if col_p not in (m.get("histogram_columns") or []):
        raise ValueError(
            f"no value histogram declared for column {col!r} — write "
            f"the table with WriteOptions(histogram_columns=[...{col!r}...])"
        )
    folded: dict = {}
    for f in m["files"]:
        h = (f.get("hist") or {}).get(col_p)
        if h is None:
            raise ValueError(
                f"file {f['path']} lacks a value histogram for {col!r} "
                f"(written before the column was declared); compact or "
                f"rewrite to refresh"
            )
        if h.get("overflow"):
            raise ValueError(
                f"column {col!r} exceeded HIST_K distinct values in "
                f"file {f['path']} — value histograms are for "
                f"low-cardinality columns; use fast_ndv/real queries"
            )
        for v, n in h["counts"]:
            folded[v] = folded.get(v, 0) + n
    # the table-level cap too: per-file caps bound MANIFEST size, but
    # without this a many-small-files layout could silently fold a
    # high-cardinality union — the contract must not depend on layout
    if len(folded) > HIST_K:
        raise ValueError(
            f"column {col!r} has {len(folded)} distinct values across "
            f"the table (> HIST_K={HIST_K}) — value histograms are for "
            f"low-cardinality columns; use fast_ndv/real queries"
        )
    return folded


def fast_value_counts(path: str, col: str) -> list[tuple]:
    """Statistics-answered ``GROUP BY col ORDER BY col`` with exact
    non-null counts, zero data IO at any table size — the whole value
    distribution of a low-cardinality column (lang/source/status) from
    metadata alone. Returns ``[(value, count), ...]`` sorted by
    value."""
    return sorted(_folded_histogram(path, col).items())


def fast_mode(path: str, col: str) -> tuple:
    """The exact most-frequent non-null value (ties break to the
    smallest value — deterministic across engines). Returns
    ``(value, count)``. Zero data IO; same fences as
    fast_value_counts."""
    folded = _folded_histogram(path, col)
    if not folded:
        raise ValueError(f"column {col!r} has no non-null values")
    return min(folded.items(), key=lambda kv: (-kv[1], kv[0]))


def fast_topk(path: str, col: str, k: int = 5) -> list[tuple]:
    """The exact k most-frequent non-null values from the folded
    histogram synopses — the heavy-hitters dashboard at zero data IO
    (q_countmin_heavy_hitters is the sketch ESTIMATE over data; this
    is the exact metadata answer for declared low-cardinality
    columns). Ties break to the smaller value, matching
    ``ORDER BY cnt DESC, val LIMIT k`` — deterministic across
    engines. Same fences as fast_value_counts (masks, undeclared,
    stale files, per-file or table-level overflow all refuse)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    folded = _folded_histogram(path, col)
    if not folded:
        raise ValueError(f"column {col!r} has no non-null values")
    return sorted(folded.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def fast_median(path: str, col: str) -> float:
    """The exact median of a low-cardinality INTEGER column from the
    folded histogram (cumulative counts over the sorted domain) —
    SQL median semantics: the middle value, or the mean of the two
    middle values for an even count. Zero data IO; same fences as
    fast_value_counts."""
    folded = _folded_histogram(path, col)
    if not folded:
        raise ValueError(f"column {col!r} has no non-null values")
    if not all(isinstance(v, int) and not isinstance(v, bool) for v in folded):
        raise ValueError(
            f"fast_median needs an integer column; {col!r} holds "
            f"{type(next(iter(folded))).__name__} values"
        )
    total = sum(folded.values())
    lo_rank, hi_rank = (total - 1) // 2, total // 2  # 0-based middles
    acc = 0
    lo_val = hi_val = None
    for v in sorted(folded):
        nxt = acc + folded[v]
        if lo_val is None and lo_rank < nxt:
            lo_val = v
        if hi_val is None and hi_rank < nxt:
            hi_val = v
            break
        acc = nxt
    return (lo_val + hi_val) / 2.0


def fast_minmax(spark: SparkSession, path: str, col: str):
    """Statistics-answered MIN/MAX: the global extremes of a column are
    the min/max over the manifest's per-file bounds — zero IO, any
    table size. On a sharded manifest the fold happens at ROOT level
    when every page carries the column's folded bound (page bounds
    exist only when every entry in the page has exact non-null
    bounds, table.py _page_bounds — so the root fold is exactly the
    per-file fold): a million-file MIN/MAX then reads zero pages.
    Correctness fence: per-file bounds are exact (written
    from the data at commit time) and deletes are merge-on-read masks
    that do NOT update bounds, so a table with pending delete masks
    raises rather than over-reporting; compact_deletes first."""
    import os

    m = read_manifest(path, materialize=False)
    if _has_pending_masks(path):
        raise ValueError(
            "fast_minmax on a table with pending delete masks would "
            "over-report; run compact_deletes first"
        )
    col = _resolve_stats_key(m, col)  # alter renames + stored twins
    if "files" not in m:
        pages = m.get("file_pages", [])
        if pages and all(
            col in (pg.get("min") or {}) and col in (pg.get("max") or {})
            for pg in pages
        ):
            return (
                min(pg["min"][col] for pg in pages),
                max(pg["max"][col] for pg in pages),
            )
        # some page lacks the folded bound (an entry had null/absent
        # stats) — materialize and let the per-file path refuse loudly
        m = read_manifest(path)
    mins = [f["min"].get(col) for f in m["files"]]
    maxs = [f["max"].get(col) for f in m["files"]]
    if any(v is None for v in mins + maxs) or not mins:
        raise ValueError(f"no complete stats for column {col!r}")
    return min(mins), max(maxs)


def clustering_depth(manifest: dict, key: str | None = None) -> dict:
    """Clustering health of the cluster/zorder key: a sweep-line over
    the per-file [min,max] ranges already in the manifest. depth(x) =
    number of files whose range covers key value x = files a point
    probe at x must open; a freshly clustered table has depth 1
    (disjoint ranges), and every append degrades it (each append
    re-ranges only its own rows, so its files span the whole key
    space). Driver cost O(F log F) over manifest entries — bounded
    metadata, the same class as plan_compaction. The metric that says
    WHEN to pay for recluster_table (Delta OPTIMIZE-ZORDER /
    clustering-metrics analogue; the reference's ClusterIndex keeps
    depth 1 by construction because stripes are written key-ordered,
    dwio/nimble/index/ClusterIndex.h:76-197).

    Returns ``{"key", "files", "ranged_files", "max_depth",
    "avg_depth"}``. ``avg_depth`` is length-weighted over the covered
    key span for numeric keys (expected files opened by a uniform
    point probe), event-weighted otherwise. Files without stats for
    the key can never be pruned, so they count toward every probe."""
    idx = manifest.get("indexes", {})
    if key is None:
        keys = list((idx.get("cluster") or {}).get("keys", [])) + list(
            (idx.get("zorder") or {}).get("keys", [])
        )
        if not keys:
            raise ValueError("table has no cluster/zorder key; pass key= explicitly")
        key = keys[0]
    events: list[tuple] = []
    unranged = 0
    n = 0
    for f in manifest["files"]:
        n += 1
        mn = (f.get("min") or {}).get(key)
        mx = (f.get("max") or {}).get(key)
        if mn is None or mx is None:
            unranged += 1
            continue
        events.append((mn, 0, 1))  # opens sort before closes at the
        events.append((mx, 1, -1))  # same x: touching ranges overlap
    events.sort(key=lambda e: (e[0], e[1]))
    numeric = bool(events) and isinstance(events[0][0], (int, float)) and not isinstance(
        events[0][0], bool
    )
    depth = unranged
    max_depth = depth if (depth or not events) else 0
    span = 0.0
    weighted = 0.0
    seg_sum = 0
    seg_n = 0
    prev_x = None
    for x, _tie, d in events:
        if prev_x is not None and depth > unranged:
            if numeric:
                seg = float(x) - float(prev_x)
                span += seg
                weighted += seg * depth
            seg_sum += depth
            seg_n += 1
        depth += d
        if depth > max_depth:
            max_depth = depth
        prev_x = x
    if numeric and span > 0:
        avg = weighted / span
    elif seg_n:
        avg = seg_sum / seg_n
    else:
        avg = float(max_depth)
    return {
        "key": key,
        "files": n,
        "ranged_files": n - unranged,
        "max_depth": max_depth,
        "avg_depth": round(avg, 3),
    }


def recluster_table(
    spark: SparkSession,
    path: str,
    n_files: int | None = None,
    incremental: bool = False,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Restore the declared cluster/zorder layout after append
    degradation — the OPTIMIZE ZORDER analogue. Appends keep pruning
    CORRECT (per-file min/max bounds are always exact) but degrade
    SELECTIVITY: each append range-partitions only its own rows, so
    file key ranges overlap and a range probe opens
    ``clustering_depth``-many files instead of ~1. recluster_table
    rewrites the table with its ORIGINAL layout options — cluster or
    zorder keys re-ranged globally, Hive partitions / hash buckets
    re-derived with the writer's exact formulas, CHECK constraints
    carried forward — restoring depth ≈ 1.

    Full-table rewrite BY DESIGN: one global range shuffle + write,
    the same cost as the initial clustered write. Run it when
    clustering_depth crosses a threshold (amortize over many appends),
    not per-append; small-file debt alone wants the far cheaper
    compact_table. Like compaction, the rewrite resets history
    (snapshots/tags do not span a recluster — it exists to change
    layout). ``n_files`` defaults to total-bytes/128 MB so output
    files land at scan-friendly sizes regardless of how small the
    appends were. Holds the table write lock across the whole
    read→rewrite span, and stages into a sibling dir swapped in whole
    (staged_swap_rewrite) — a crash mid-rewrite leaves the old table
    intact, never a half-deleted one.

    ``incremental=True`` switches to the PARTIAL rewrite: only the
    files whose key ranges actually overlap are re-ranged (grouped by
    overlap component from manifest bounds — zero data IO to plan),
    everything already disjoint is untouched, and the result publishes
    as a compaction-style data_change=False commit that KEEPS history,
    tags, snapshots, and pending delete masks (they are value sets, so
    a physical rewrite cannot resurrect rows). This is the 100 TB
    steady-state path — a weekly global reshuffle of a 100 TB table is
    not a plan; rewriting the few overlapping files an append window
    touched is. Cost is proportional to the overlap debt, not table
    size. Range-cluster layouts only (zorder interleaving is not
    captured by per-column bounds — use the full rewrite)."""
    from nimble_spark.sources.table import (
        layout_options_of,
        read_manifest,
        read_table,
        staged_swap_rewrite,
        table_write_lock,
    )

    with table_write_lock(path):
        m = read_manifest(path)
        if m.get("column_aliases"):
            raise ValueError(
                "recluster_table on an aliased (dedup_columns) table: "
                "run materialize_columns first"
            )
        if incremental:
            return _recluster_partial(spark, path, m, target_file_bytes)
        idx = m.get("indexes", {})
        if "cut" in idx:
            raise ValueError("cut layouts re-cut whole groups on every write; "
                             "recluster does not apply")
        if not ("cluster" in idx or "zorder" in idx):
            raise ValueError("table has no cluster/zorder layout to restore")
        if _has_pending_masks(path):
            raise ValueError(
                "recluster_table with pending delete masks would carry "
                "masked rows into the fresh layout's history; run "
                "compact_deletes first"
            )
        opts = layout_options_of(m, n_cluster_files=n_files)
        opts.user_metadata = {
            "recluster.files_before": str(len(m["files"])),
            "recluster.commits_before": str(len(m.get("commits", []))),
        }
        df = read_table(spark, path)
        return staged_swap_rewrite(spark, path, df, opts)


def plan_recluster(m: dict, key: str | None = None) -> list[list[dict]]:
    """Overlap components of the cluster key's per-file ranges — the
    plan for an INCREMENTAL recluster, from manifest bounds alone
    (zero data IO, O(F log F) driver work). Files are grouped per leaf
    directory (partition/bucket dirs ARE the index — a rewrite never
    crosses one, same invariant as plan_compaction); within a
    directory, ranges sorted by min merge transitively while they
    overlap (touching counts, matching clustering_depth's tie rule).
    Returns only the components worth rewriting (2+ files). A file
    without bounds for the key overlaps everything in its directory,
    so its whole directory becomes one component."""
    if key is None:
        keys = (m.get("indexes", {}).get("cluster") or {}).get("keys", [])
        if not keys:
            raise ValueError("table has no cluster layout; pass key= explicitly")
        key = keys[0]
    by_dir: dict[str, list[dict]] = {}
    for f in m["files"]:
        by_dir.setdefault(os.path.dirname(os.path.normpath(f["path"])), []).append(f)
    groups: list[list[dict]] = []
    for _dir, files in by_dir.items():
        ranged = [
            f
            for f in files
            if (f.get("min") or {}).get(key) is not None
            and (f.get("max") or {}).get(key) is not None
        ]
        if len(ranged) < len(files):
            if len(files) > 1:
                groups.append(list(files))
            continue
        by_min = sorted(ranged, key=lambda f: f["min"][key])
        cur = [by_min[0]]
        cur_max = by_min[0]["max"][key]
        for f in by_min[1:]:
            if f["min"][key] <= cur_max:
                cur.append(f)
                if f["max"][key] > cur_max:
                    cur_max = f["max"][key]
            else:
                if len(cur) > 1:
                    groups.append(cur)
                cur = [f]
                cur_max = f["max"][key]
        if len(cur) > 1:
            groups.append(cur)
    return groups


def _recluster_partial(
    spark: SparkSession, path: str, m: dict, target_file_bytes: int
) -> dict:
    """Incremental recluster body (called under the table write lock):
    group files into overlap components on the first cluster key from
    manifest bounds, re-range each component in isolation, publish via
    the shared partial-rewrite path. Components are computed per leaf
    directory — partition/bucket dirs ARE the index, a rewrite never
    crosses one (same invariant as plan_compaction).

    Correctness of partial disjointness: files in singleton components
    overlap NO other file in their directory, and a component's new
    files are range-partitioned within the component's combined span —
    which, by construction, does not intersect any singleton. So after
    the rewrite every directory's ranges are pairwise disjoint (depth
    1) except where unranged (no-stats) files force whole-directory
    components."""
    import math

    import pyspark.sql.types as T

    from nimble_spark.sources.table import _describe_parquet_file, _stat_cols

    idx = m.get("indexes", {})
    if "cluster" not in idx:
        raise ValueError(
            "incremental recluster needs a range cluster layout; zorder "
            "interleaving is not captured by per-column bounds — use the "
            "full recluster_table rewrite"
        )
    keys = idx["cluster"]["keys"]
    key = keys[0]
    stat_cols = _stat_cols(T.StructType.fromJson(m["schema"]))
    groups = plan_recluster(m, key=key)
    files_before = len(m["files"])
    if not groups:
        return {
            "groups": 0,
            "files_rewritten": 0,
            "files_before": files_before,
            "files_after": files_before,
            "rows": m["rows"],
        }

    entries_at: dict[str, list[dict]] = {}
    for g in groups:
        srcs = [os.path.join(path, f["path"]) for f in g]
        df = spark.read.schema(_declared_read_schema(m)).parquet(*srcs)
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(
                f"cluster key(s) {missing} are not physical columns "
                "(partition-derived); use the full recluster_table rewrite"
            )
        n_out = max(1, math.ceil(sum(f["bytes"] for f in g) / target_file_bytes))
        out = df.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
        tmp = os.path.join(path, MANIFEST_DIR, f"recluster-tmp-{uuid.uuid4().hex}")
        writer = out.write.mode("overwrite").option("compression", "zstd")
        for c in (idx.get("bloom") or {}).get("keys", []):
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(tmp)
        bin_dir = os.path.dirname(os.path.normpath(g[0]["path"]))
        if os.path.isabs(bin_dir):
            bin_dir = ""  # foreign (shallow-clone) group: land locally
        new_entries: list[dict] = []
        for p in sorted(os.listdir(tmp)):
            if not p.endswith(".parquet"):
                continue
            out_name = os.path.join(bin_dir, f"recluster-{uuid.uuid4().hex[:12]}.parquet")
            shutil.move(os.path.join(tmp, p), os.path.join(path, out_name))
            e = _describe_parquet_file(os.path.join(path, out_name), path, stat_cols, m)
            if e["rows"] == 0:  # empty range partition — drop, don't publish
                os.remove(os.path.join(path, out_name))
                continue
            new_entries.append(e)
        shutil.rmtree(tmp, ignore_errors=True)
        # splice in key order so manifest order stays the range order
        new_entries.sort(
            key=lambda e: ((e["min"] or {}).get(key) is None, (e["min"] or {}).get(key))
        )
        entries_at[os.path.normpath(g[0]["path"])] = new_entries

    n_rewritten = sum(len(g) for g in groups)
    new_m = _publish_partial_rewrite(
        path,
        m,
        groups,
        entries_at,
        mode="recluster",
        user_md={
            "recluster.partial_groups": str(len(groups)),
            "recluster.files_rewritten": str(n_rewritten),
        },
        stat_cols=stat_cols,
    )
    return {
        "groups": len(groups),
        "files_rewritten": n_rewritten,
        "files_before": files_before,
        "files_after": len(new_m["files"]),
        "rows": new_m["rows"],
        "max_depth_after": clustering_depth(new_m, key=key)["max_depth"],
    }


def advise_maintenance(
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_depth: int = 2,
) -> list[dict]:
    """The maintenance half of the advisor (plans/advisor.py covers
    INITIAL layout; this covers WHEN to pay for upkeep): one pass of
    driver-side metadata arithmetic — the manifest, the deletes dir
    listing, the trash listing; zero data IO at any table size —
    returning the maintenance actions currently worth their cost:

    * ``compact_table``     — small-file debt (plan_compaction bins)
    * ``recluster_table``   — clustering_depth above ``max_depth``
    * ``compact_deletes``   — pending delete masks taxing every scan
    * ``vacuum_table``      — reclaimable retention-trash bytes

    Each row: {"action", "evidence", "reason"}. Empty list = healthy.
    The Delta/Iceberg maintenance-policy analogue, driven by the same
    stats the reference's writer keeps per stripe (Statistics.h:31)."""
    m = read_manifest(path)
    recs: list[dict] = []
    bins = plan_compaction(m, target_file_bytes)
    if bins:
        small = sum(len(b) for b in bins)
        recs.append(
            {
                "action": "compact_table",
                "evidence": small,
                "reason": f"{small} undersized files merge into {len(bins)} bin(s)",
            }
        )
    idx = m.get("indexes", {})
    if "cluster" in idx or "zorder" in idx:
        if "zorder" in idx:
            # Z-layouts overlap on any SINGLE key by design: a fresh
            # d-key layout of F files projects ~F^((d-1)/d) overlapping
            # ranges per key (measured ~1.5-2x that constant), so the
            # flat depth>2 rule would flag a perfectly fresh table.
            # Only genuine append degradation beyond the geometric
            # baseline (x3 safety factor) is advice-worthy.
            import math

            keys = idx["zorder"]["keys"]
            depths = [clustering_depth(m, key=k) for k in keys]
            d = max(depths, key=lambda x: x["max_depth"])
            nd = max(1, len(keys))
            f = max(1, d["ranged_files"])
            thresh = max(max_depth, math.ceil(3 * f ** ((nd - 1) / nd)))
        else:
            d = clustering_depth(m, key=idx["cluster"]["keys"][0])
            thresh = max_depth
        if d["max_depth"] > thresh:
            # Localized overlap (a minority of files in overlap
            # components) wants the partial rewrite — cost scales
            # with the debt, not table size; zorder has no partial
            # path (interleaving is not captured by per-column
            # bounds), and near-total overlap re-ranges everything
            # anyway, where the full rewrite's single global shuffle
            # beats per-component jobs.
            hint = ""
            if "cluster" in idx and "zorder" not in idx:
                dirty = sum(len(g) for g in plan_recluster(m, key=d["key"]))
                if dirty <= len(m["files"]) // 2:
                    hint = (
                        f" — overlap is localized ({dirty}/{len(m['files'])}"
                        " files): use incremental=True"
                    )
            recs.append(
                {
                    "action": "recluster_table",
                    "evidence": d["max_depth"],
                    "reason": (
                        f"point probes on {d['key']!r} open up to "
                        f"{d['max_depth']} files (avg {d['avg_depth']}, "
                        f"healthy ≤ {thresh})" + hint
                    ),
                }
            )
    from nimble_spark.sources.deletes import pending_mask_batches

    n_masks = len(pending_mask_batches(path))
    if n_masks:
        recs.append(
            {
                "action": "compact_deletes",
                "evidence": n_masks,
                "reason": f"{n_masks} pending delete mask(s) anti-join every scan",
            }
        )
    trash = os.path.join(path, MANIFEST_DIR, "trash")
    if os.path.isdir(trash):
        tbytes = 0
        for root, _dirs, fs in os.walk(trash):
            for f in fs:
                try:
                    tbytes += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass  # racing vacuum — size is advisory only
        if tbytes:
            recs.append(
                {
                    "action": "vacuum_table",
                    "evidence": tbytes,
                    "reason": f"{tbytes} retention-trash bytes reclaimable "
                    "(costs snapshot/CDC history)",
                }
            )
    # Stale secondary sorted indexes: the fence records the file set
    # the index was built from; any append/rewrite since makes reads
    # fall back to the always-correct scan paths — correct but paying
    # full pruning cost until the index is rebuilt.
    from nimble_spark.sources.table import _files_fingerprint

    fences = (m.get("indexes", {}).get("sorted_fence") or {})
    cur_fp = _files_fingerprint(m) if fences else None
    stale_keys = sorted(
        k
        for k in m.get("indexes", {}).get("sorted", []) or []
        if fences.get(k) not in (None, cur_fp)
    )
    if stale_keys:
        recs.append(
            {
                "action": "rebuild_sorted_index",
                "evidence": len(stale_keys),
                "reason": (
                    f"sorted index fence stale for {stale_keys} — point "
                    f"lookups fall back to full stats pruning until rebuilt"
                ),
                "keys": stale_keys,
            }
        )
    return recs


def run_maintenance(
    spark: SparkSession,
    path: str,
    vacuum: bool = False,
    target_file_bytes: int | None = None,  # None → property / 128 MiB
    max_depth: int | None = None,  # None → property / 2
    min_age_s: float | None = None,  # None → per-table property / 600 s
) -> list[dict]:
    """Execute what :func:`advise_maintenance` recommends — the
    auto-OPTIMIZE loop (Delta auto-compaction / Iceberg maintenance-
    action analogue). Actions run in dependency order, re-advising
    between steps (each action changes the table, so stale advice is
    never executed):

    1. ``compact_deletes`` — masks first: they tax every scan the
       later steps themselves will run, and clearing them unblocks
       the rewrite compositions that refuse pending masks.
    2. ``compact_table`` — small-file debt.
    3. ``recluster_table`` — incremental when the overlap is localized
       (minority of files in overlap components), full otherwise;
       decided here from the same plan the advisor read, not by
       parsing the advisor's prose.
    4. ``rebuild_sorted_index`` — after the rewrites (they change the
       file set, so rebuilding earlier would immediately re-stale).
    5. ``vacuum_table`` — ONLY when ``vacuum=True``: it trades
       snapshot/CDC history for space, a policy call the caller must
       make explicitly (the advisor's reason says as much).

    Each step takes the table write lock on its own (the actions are
    individually serialized mutations); a concurrent append landing
    between steps is re-observed by the next re-advise. Returns one
    row per EXECUTED action: {"action", "result"}. Empty = the table
    was already healthy (or only vacuum was advised and not allowed).

    The ``None`` defaults resolve from the table's reserved
    properties (r9 knobs: ``nimble.compact.target_file_bytes``,
    ``nimble.recluster.max_depth``; min_age_s already resolves inside
    vacuum_table) — a fleet maintenance job calls this with no
    arguments and each table carries its own policy.
    """
    from nimble_spark.sources.deletes import compact_deletes
    from nimble_spark.sources.table import table_properties

    try:
        _props = table_properties(path)
    except (OSError, KeyError):
        _props = {}

    def _int_prop(key: str, default: int) -> int:
        raw = _props.get(key)
        if raw is None:
            return default
        try:
            return int(raw)
        except ValueError as e:
            # same contract as vacuum_table: a malformed stored value
            # refuses loudly instead of silently changing policy
            raise ValueError(
                f"table property {key}={raw!r} is not an integer — fix "
                f"it before maintenance"
            ) from e

    if target_file_bytes is None:
        target_file_bytes = _int_prop(
            "nimble.compact.target_file_bytes", 128 * 1024 * 1024
        )
    if max_depth is None:
        max_depth = _int_prop("nimble.recluster.max_depth", 2)

    executed: list[dict] = []

    def _advised() -> dict[str, dict]:
        return {
            r["action"]: r
            for r in advise_maintenance(
                path, target_file_bytes=target_file_bytes, max_depth=max_depth
            )
        }

    recs = _advised()
    if "compact_deletes" in recs:
        r = compact_deletes(spark, path)
        executed.append(
            {"action": "compact_deletes", "result": f"rows={r.get('rows', '?')}"}
        )
        recs = _advised()
    if "compact_table" in recs:
        r = compact_table(spark, path, target_file_bytes=target_file_bytes)
        executed.append(
            {
                "action": "compact_table",
                "result": f"{r['files_before']}→{r['files_after']} files "
                f"({r['bins']} bins)",
            }
        )
        recs = _advised()
    if "recluster_table" in recs:
        m = read_manifest(path)
        idx = m.get("indexes", {})
        incremental = False
        if "cluster" in idx and "zorder" not in idx:
            dirty = sum(
                len(g) for g in plan_recluster(m, key=idx["cluster"]["keys"][0])
            )
            incremental = dirty <= len(m["files"]) // 2
        r = recluster_table(spark, path, incremental=incremental)
        label = "incremental" if incremental else "full"
        executed.append(
            {
                "action": "recluster_table",
                "result": f"{label}; files_after="
                f"{r.get('files_after', len(read_manifest(path)['files']))}",
            }
        )
        recs = _advised()
    if "rebuild_sorted_index" in recs:
        from nimble_spark.sources.table import create_sorted_index

        keys = recs["rebuild_sorted_index"]["keys"]
        for k in keys:
            create_sorted_index(spark, path, k)
        executed.append(
            {"action": "rebuild_sorted_index", "result": f"rebuilt {keys}"}
        )
        recs = _advised()
    if vacuum and "vacuum_table" in recs:
        removed = vacuum_table(path, min_age_s=min_age_s)
        executed.append(
            {"action": "vacuum_table", "result": f"reclaimed {len(removed)} file(s)"}
        )
    return executed


# Compaction and vacuum are manifest mutations like any other write:
# hold the table write lock for the whole read-rewrite-publish span so
# a compaction racing a locked append cannot read the pre-append
# manifest and last-wins-publish it (silently dropping the append's
# commit). Same discipline as merge.py's _serialize_writes.
from nimble_spark.sources.merge import _serialize_writes  # noqa: E402

compact_table = _serialize_writes(compact_table, 1)
vacuum_table = _serialize_writes(vacuum_table, 0)
