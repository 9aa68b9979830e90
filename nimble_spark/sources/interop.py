"""Non-Spark consumer interop: open a nimble_spark table as a pyarrow
Dataset or query it from DuckDB, honoring the MANIFEST's file list —
and the table's LOGICAL view.

The manifest is the table's source of truth; a naive ``*.parquet``
glob over the directory would also read debris from interrupted
writes and (pre-vacuum) superseded files — the exact failure the
reference's footer-last tablet discipline exists to prevent. These
helpers materialize the manifest's live file list so every engine
sees the same committed state Spark does:

    import duckdb
    from nimble_spark.sources.interop import arrow_dataset, duckdb_relation

    ds = arrow_dataset(path)              # pyarrow.dataset
    con = duckdb.connect()                # hold while querying
    rel = duckdb_relation(con, path)      # DuckDB relation

But the committed BYTES are not always the table's logical view
(r7 probe: a Hive-partitioned table's partition column vanished
entirely through these helpers — its values live in directory names,
not file bytes). The logical-view constructs and how each helper
handles them:

- **Hive partition layouts**: ``duckdb_relation`` parses the
  ``key=value`` path segments (``hive_partitioning``) and CASTs each
  recovered column to its manifest-declared type (DuckDB's autocast
  infers from the value — 'k=1' would come back BIGINT on a
  STRING-declared key); pyarrow's explicit-file-list datasets don't
  support hive inference, so ``arrow_dataset`` REFUSES (use
  ``raw=True`` for the physical bytes, duckdb_relation, or Spark).
- **Hash-bucket layouts**: the bucket key column lives in file bytes;
  only the internal ``__nimble_bucket`` ordinal is path-derived and it
  is NOT part of the logical view — both helpers serve bucketed-only
  tables, and ``duckdb_relation`` never surfaces the ordinal.
- **alter.py renames/drops** (``schema_mapping``): files store
  PHYSICAL names. ``duckdb_relation`` projects the logical view
  (renames applied, dropped columns hidden); ``arrow_dataset``
  refuses unless ``raw=True``.
- **dedup_columns aliases**: stored once physically; ``duckdb_relation``
  re-projects the alias columns from their stored twins;
  ``arrow_dataset`` refuses unless ``raw=True``.
- **pending delete masks**: merge-on-read state a raw scan cannot see.
  ``duckdb_relation`` APPLIES them (anti-join against the persisted
  keysets — the same semantics as Spark's ``read_with_deletes``);
  ``arrow_dataset`` refuses (a Dataset cannot carry the join) —
  silently returning deleted rows would be a wrong answer, not a
  degraded one.

Cross-engine reads are read-only; writers go through write_table so
manifest, stats, and the commit log stay authoritative.
"""

from __future__ import annotations

import os

from nimble_spark.sources.table import BUCKET_COL, read_manifest

_DELETES_SUBDIR = os.path.join("_nimble", "deletes")

# Spark StructType-JSON scalar type → DuckDB type, for pinning
# hive-parsed partition columns to the table's DECLARED type (DuckDB's
# hive autocast infers from the path VALUE — 'k=1' comes back BIGINT
# even on a STRING-declared column, a divergence Spark readers never
# exhibit; duckdb 1.0's Python API has no hive_types kwarg, so the
# projection cast is the seam).
_DUCK_TYPE = {
    "long": "BIGINT",
    "integer": "INTEGER",
    "short": "SMALLINT",
    "byte": "TINYINT",
    "string": "VARCHAR",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
}


def _sql_path(p: str) -> str:
    """A path as a single-quoted DuckDB string literal. Quotes are
    legal in POSIX paths; bare interpolation turns such a path into a
    confusing bind error (ADVICE r7)."""
    return "'" + p.replace("'", "''") + "'"


def live_files(path: str) -> list[str]:
    """Absolute paths of the table's committed data files, in manifest
    order (cluster range order on clustered tables)."""
    m = read_manifest(path)
    return [os.path.join(path, f["path"]) for f in m["files"]]


def _has_masks(path: str) -> bool:
    # PENDING masks only: batches a published rewrite already consumed
    # (manifest consumed_masks — dirs linger when its cleanup crashed)
    # no longer apply to any read, Spark's included
    from nimble_spark.sources.deletes import has_pending_masks

    return has_pending_masks(path)


def _refuse_masked(path: str) -> None:
    if _has_masks(path):
        raise ValueError(
            "table has pending delete masks — a raw cross-engine scan "
            "would return deleted rows; run compact_deletes first or "
            "read through Spark (read_with_deletes)"
        )


def arrow_dataset(path: str, raw: bool = False):
    """The table as a ``pyarrow.dataset.Dataset`` over exactly the
    committed files — predicate/projection pushdown via pyarrow's
    scanner, zero Spark involvement.

    Tables whose LOGICAL view differs from the raw file bytes
    (partition/bucket layouts, alter renames/drops, dedup aliases)
    refuse unless ``raw=True`` (you get physical names and no
    directory-derived columns); pending delete masks always refuse."""
    import pyarrow.dataset as pa_ds

    _refuse_masked(path)
    if not raw:
        m = read_manifest(path, materialize=False)
        gaps = []
        # only PARTITION keys are directory-derived; a hash-bucket
        # layout keeps its key column in file bytes (just the internal
        # __nimble_bucket ordinal lives in the path, and that is not
        # part of the logical view) — so bucketed-only tables serve fine
        part_keys = ((m.get("indexes", {}) or {}).get("partition") or {}).get("keys") or []
        if part_keys:
            gaps.append(
                f"directory-derived column(s) {part_keys} (partition "
                f"values live in path names, not file bytes)"
            )
        if m.get("schema_mapping"):
            gaps.append("alter.py renames/drops (files store physical names)")
        if m.get("column_aliases"):
            gaps.append("dedup_columns aliases (stored once physically)")
        if gaps:
            raise ValueError(
                "arrow_dataset cannot express this table's logical view: "
                + "; ".join(gaps)
                + ". Use duckdb_relation (maps all of these), Spark "
                "read_table, or arrow_dataset(path, raw=True) for the "
                "physical bytes."
            )
    return pa_ds.dataset(live_files(path), format="parquet")


def duckdb_relation(con, path: str):
    """A DuckDB relation over the committed files presenting the
    table's LOGICAL view: ``read_parquet`` on the explicit list (never
    a directory glob), hive path parsing for partition/bucket columns,
    pending delete masks APPLIED (anti-join against the persisted
    keysets — same rows Spark's read_with_deletes returns), alter
    renames applied, dropped columns hidden, dedup aliases restored
    from their stored twins."""
    m = read_manifest(path)
    files = [os.path.join(path, f["path"]) for f in m["files"]]
    idx = m.get("indexes", {}) or {}
    part_keys = (idx.get("partition") or {}).get("keys") or []
    # hive parsing ONLY recovers real partition keys (their values live
    # in directory names). Hash-bucket layouts keep their key column in
    # file bytes — only the derived __nimble_bucket ordinal lives in the
    # path, and parsing it would leak an internal column Spark's logical
    # view drops (table.py BUCKET_COL handling).
    # union_by_name: a widened table (alter_table widen) legally mixes
    # file widths (int32 files + int64 appends); a positional schema
    # merge would refuse the list outright
    rel = con.read_parquet(
        files, hive_partitioning=bool(part_keys), union_by_name=True
    )
    declared = {
        f["name"]: _DUCK_TYPE.get(f["type"])
        for f in m["schema"]["fields"]
        if isinstance(f["type"], str)
    }
    sel = []
    changed = False
    for c in rel.columns:
        if c == BUCKET_COL:
            changed = True  # dropped from the projection
            continue  # internal bucket ordinal — never logical
        if declared.get(c):
            # pin EVERY declared-typed column: partition values would
            # otherwise autocast from rendered strings (ADVICE r7), and
            # data columns surface at their file-native width, not the
            # table's declared (possibly widened) type. The cast is a
            # no-op when they already agree.
            sel.append(f'CAST("{c}" AS {declared[c]}) AS "{c}"')
            changed = True
        else:
            sel.append(f'"{c}"')
    if changed:
        rel = rel.project(", ".join(sel))

    # merge-on-read delete masks: mask directories are keyed by the
    # column's stable PHYSICAL name (deletes.py), which is exactly the
    # name visible at this pre-projection stage
    masks_root = os.path.join(path, _DELETES_SUBDIR)
    # PENDING batches only (consumed_masks fence): batches a published
    # rewrite already materialized must not re-apply here either
    from nimble_spark.sources.deletes import pending_mask_batches

    _pending = {}
    for b in pending_mask_batches(path, m):
        col, _, batch = b.partition("/")
        _pending.setdefault(col, []).append(batch)
    if _pending:
        for col in sorted(_pending):
            mask_files = [
                os.path.join(r, f)
                for batch in _pending[col]
                for r, _d, fs in os.walk(os.path.join(masks_root, col, batch))
                for f in fs
                if f.endswith(".parquet")
            ]
            if not mask_files:
                continue
            import pyarrow.parquet as pa_pq

            # mask files store the keyset under its write-time name —
            # bind by POSITION (first column), like read_with_deletes
            kcol = pa_pq.read_schema(mask_files[0]).names[0]
            flist = ", ".join(_sql_path(f) for f in mask_files)
            # NULL semantics mirror Spark's anti-join: a NULL data key
            # matches no mask value (kept); NULL mask values mask
            # nothing (excluded from the keyset)
            rel = rel.filter(
                f'"{col}" IS NULL OR "{col}" NOT IN '
                f'(SELECT "{kcol}" FROM read_parquet([{flist}]) '
                f'WHERE "{kcol}" IS NOT NULL)'
            )

    mapping = m.get("schema_mapping") or {}
    renames = mapping.get("renames") or {}
    dropped = set(mapping.get("dropped") or [])
    aliases = m.get("column_aliases") or {}
    if not (renames or dropped or aliases):
        return rel

    # project the logical view: physical name → logical name, dropped
    # hidden, aliases re-materialized from their stored twins, in the
    # table's declared logical order
    cols = []
    if m.get("logical_columns"):
        phys_of = {l: p for p, l in renames.items()}
        for logical in m["logical_columns"]:
            stored = aliases.get(logical, phys_of.get(logical, logical))
            cols.append(f'"{stored}" AS "{logical}"')
    else:
        for f in m["schema"]["fields"]:
            p = f["name"]
            if p in dropped:
                continue
            cols.append(f'"{p}" AS "{renames.get(p, p)}"')
    return rel.project(", ".join(cols))
