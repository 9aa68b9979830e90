"""Metadata-only schema evolution: ALTER TABLE rename / drop / add
without rewriting a byte of data.

Reference parity: the reference's schema is evolution-by-offset —
columns are addressed by stable stream offset, names are mutable
metadata (`dwio/nimble/velox/SchemaTypes.h:109-159`, attribute bag for
Iceberg field ids `writer/VeloxWriterOptions.h:140-154`) — so renames
are free and adds read as nulls (`NullColumnReader`,
`selective/ColumnReader.cpp:57-62`). The table-layer analogue here is
the Iceberg/Delta column-mapping model:

- files keep their PHYSICAL column names forever (until a full
  rewrite materializes the mapping);
- the manifest carries ``schema_mapping = {"renames": {physical:
  logical}, "dropped": [physical, ...]}``;
- every read path surfaces the LOGICAL view
  (``table._project_logical``), every write path maps logical →
  physical before bytes land.

At 100 TB this is the only acceptable shape: renaming a column on a
petabyte table is one manifest write, not a cluster-week of rewrite.

Rules that keep it sound (each refused loudly, never silently):

- Index/layout/constraint-referenced columns cannot be renamed or
  dropped — pruning metadata, directory names and CHECK expressions
  speak physical names; a rewrite (recluster/compact_deletes) first
  materializes the mapping, then the layout column can be altered.
- A dropped physical name stays DEAD, and no added column may collide
  with ANY physical name: old files still hold bytes under those
  names, and re-binding the name would resurface stale data under a
  fresh column.
- Columns with pending delete masks: rename leaves the mask directory
  under its recorded name — mask application resolves directory names
  through the rename map, so the mask keeps masking with no
  dir-move/manifest-publish crash window; drop is refused (the mask
  would silently stop applying — resurrection).
- ``dedup_columns`` (aliased) tables are refused — materialize first.

Full rewrites (compact_deletes, full recluster_table,
materialize_columns) read the logical view and write a fresh table,
which MATERIALIZES the mapping: afterwards physical == logical and
the mapping is gone. Partial rewrites (merge/update/compact/
incremental recluster) keep files physical and carry the mapping.
"""

from __future__ import annotations

import re

from nimble_spark.sources.table import (
    _publish_successor,
    logical_field_names,
    read_manifest,
    table_write_lock,
)

# Spark simpleString scalar types allowed for metadata-only ADD — the
# typed-null fill and the pyds Arrow fill both support these.
_ADDABLE = {
    "boolean", "tinyint", "smallint", "int", "bigint",
    "float", "double", "string", "date", "timestamp",
    "binary", "decimal(38,18)",
}

# simpleString → schema-JSON type name: the manifest stores Spark's
# JSON schema (StructType.fromJson), whose integer names differ from
# the DDL simpleStrings users write. Storing "bigint" verbatim would
# poison the manifest — every later read's fromJson raises
# CANNOT_PARSE_DATATYPE (caught by the r7 combined lifecycle fuzz).
_JSON_TYPE = {
    "tinyint": "byte",
    "smallint": "short",
    "int": "integer",
    "bigint": "long",
}


def _protected_names(m: dict) -> dict[str, str]:
    """Physical column name → why it cannot be renamed/dropped."""
    out: dict[str, str] = {}
    idx = m.get("indexes", {}) or {}
    for kind in ("cluster", "zorder", "partition"):
        for k in (idx.get(kind) or {}).get("keys", []):
            out[k] = f"{kind} index key"
    if "hash" in idx:
        out[idx["hash"]["key"]] = "hash index key"
    if "cut" in idx:
        out[idx["cut"]["key"]] = "cut key"
    for k in (idx.get("bloom") or {}).get("keys", []):
        out[k] = "bloom index key"
    for k in idx.get("sorted", []) or []:
        out[k] = "sorted index key"
    return out


def _constraint_refs(m: dict, name: str) -> list[str]:
    pat = re.compile(rf"\b{re.escape(name)}\b")
    return [
        cname for cname, expr in (m.get("constraints") or {}).items() if pat.search(expr)
    ]


def _mask_columns(path: str) -> list[str]:
    # PENDING batches only (deletes.pending_mask_batches): batch dirs a
    # published rewrite already consumed no longer gate a drop
    from nimble_spark.sources.deletes import pending_mask_batches

    return sorted({b.partition("/")[0] for b in pending_mask_batches(path)})


def alter_table(
    path: str,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
    add: dict[str, str] | None = None,
    widen: dict[str, str] | None = None,
) -> dict:
    """Apply metadata-only schema changes and publish an ``alter``
    commit (data_change=false — CDC consumers skip it, time travel
    applies it). ``rename`` maps CURRENT logical name → new name;
    ``drop`` lists current logical names; ``add`` maps new name →
    Spark type simpleString (reads null-fill it on pre-add files, the
    add-column evolution the format already had); ``widen`` maps
    current logical name → a WIDER Spark type (integer chain up,
    float→double) — the persisted form of the reference's UPCAST
    reads: files keep their narrow physical bytes, every read casts
    to the declared type per file, and later appends may land the
    wide type directly (the stored-vs-declared merge already honors
    mixed widths). Narrowing raises — silent truncation is exactly
    the bug evolution exists to prevent."""
    rename = dict(rename or {})
    drop = list(drop or [])
    add = dict(add or {})
    widen = dict(widen or {})
    if not (rename or drop or add or widen):
        raise ValueError("alter_table: nothing to do")
    import copy

    with table_write_lock(path):
        m = read_manifest(path)
        # deep-copy the schema before mutating it: read_manifest returns
        # the SHARED cached dict (one parse per manifest version);
        # assigning into its fields in place would expose a half-altered
        # manifest to concurrent readers of the same version (the r5
        # cache-poisoning class)
        schema = copy.deepcopy(m["schema"])
        if m.get("column_aliases"):
            raise ValueError(
                "alter_table on a dedup_columns (aliased) table: run "
                "materialize_columns first"
            )
        mapping = dict(m.get("schema_mapping") or {})
        renames: dict[str, str] = dict(mapping.get("renames") or {})
        dropped: list[str] = list(mapping.get("dropped") or [])
        phys_names = [f["name"] for f in schema["fields"]]
        logical = logical_field_names(m)
        inv = {l: p for p, l in renames.items()}  # logical → physical
        protected = _protected_names(m)
        mask_cols = _mask_columns(path)

        def phys_of(logical_name: str) -> str:
            return inv.get(logical_name, logical_name)

        for old, new in rename.items():
            if old not in logical:
                raise ValueError(f"rename: no column {old!r} (have {logical})")
            if new in logical or new in phys_names or new in dropped:
                raise ValueError(
                    f"rename: name {new!r} collides with a live or dead "
                    f"(physical) column name — old files still hold bytes "
                    f"under physical names; pick a fresh name or rewrite"
                )
            p = phys_of(old)
            if p in protected:
                raise ValueError(
                    f"rename: {old!r} is a {protected[p]} — pruning metadata "
                    f"and directory layouts speak physical names; rewrite "
                    f"(recluster/compact) first to materialize, then alter"
                )
            refs = _constraint_refs(m, p)
            if refs:
                raise ValueError(
                    f"rename: {old!r} is referenced by CHECK constraint(s) "
                    f"{refs} (expressions are stored physically)"
                )
            renames[p] = new
            inv[new] = p
            if old in inv:
                del inv[old]
        for name in drop:
            # resolve against the POST-rename logical view
            cur_logical = [renames.get(f, f) for f in phys_names if f not in dropped]
            if name not in cur_logical:
                raise ValueError(f"drop: no column {name!r} (have {cur_logical})")
            p = inv.get(name, name)
            if p in protected:
                raise ValueError(f"drop: {name!r} is a {protected[p]}")
            refs = _constraint_refs(m, p)
            if refs:
                raise ValueError(
                    f"drop: {name!r} is referenced by CHECK constraint(s) {refs}"
                )
            if name in mask_cols or p in mask_cols:
                raise ValueError(
                    f"drop: {name!r} has pending delete masks — dropping it "
                    f"would silently stop the mask from applying "
                    f"(resurrection); run compact_deletes first"
                )
            if len(cur_logical) == 1:
                raise ValueError("drop: cannot drop the last column")
            dropped.append(p)
            renames.pop(p, None)
        for name, typ in add.items():
            if typ not in _ADDABLE:
                raise ValueError(
                    f"add: type {typ!r} not supported for metadata-only add "
                    f"(supported: {sorted(_ADDABLE)})"
                )
            live_logical = [renames.get(f, f) for f in phys_names if f not in dropped]
            if name in live_logical or name in phys_names or name in dropped:
                raise ValueError(
                    f"add: name {name!r} collides with a live or dead "
                    f"(physical) column name — old files still hold bytes "
                    f"under physical names; re-binding would resurface "
                    f"stale data"
                )
            schema["fields"] = schema["fields"] + [
                {
                    "name": name,
                    "type": _JSON_TYPE.get(typ, typ),
                    "nullable": True,
                    "metadata": {},
                }
            ]
            phys_names.append(name)
        _DDL_OF_JSON = {v: k for k, v in _JSON_TYPE.items()}
        for name, typ in widen.items():
            from nimble_spark.sources.table import _safe_widening

            live_logical = [renames.get(f, f) for f in phys_names if f not in dropped]
            if name not in live_logical:
                raise ValueError(f"widen: no column {name!r} (have {live_logical})")
            p = inv.get(name, name)
            if p in protected:
                # index machinery computes on the STORED type: hash
                # buckets and parquet blooms hash the value's physical
                # byte width, so probing a widened declared type would
                # route/filter WRONG (false negatives), and partition
                # path parsing would re-type directory values
                raise ValueError(
                    f"widen: {name!r} is a {protected[p]} — bucket "
                    f"routing, bloom probes and layout metadata are "
                    f"computed from the stored type; rewrite to change it"
                )
            cur_json = next(f["type"] for f in schema["fields"] if f["name"] == p)
            cur_ddl = _DDL_OF_JSON.get(cur_json, cur_json)
            if not _safe_widening(cur_ddl, typ):
                raise ValueError(
                    f"widen: {cur_ddl} → {typ} is not a lossless widening "
                    f"(integer chain up, float→double)"
                )
            for f in schema["fields"]:
                if f["name"] == p:
                    f["type"] = _JSON_TYPE.get(typ, typ)

        new_mapping: dict = {}
        if renames:
            new_mapping["renames"] = renames
        if dropped:
            new_mapping["dropped"] = dropped
        new_m = _publish_successor(
            path,
            m,
            {"schema": schema, "schema_mapping": new_mapping or None},
            "alter",
            [],
            replaced=[],
            entry={
                "data_change": False,
                "alter": {
                    "rename": rename or None,
                    "drop": drop or None,
                    "add": add or None,
                    "widen": widen or None,
                },
            },
        )
        # Pending-mask directories are NOT moved: mask application
        # (deletes.read_with_deletes) resolves a mask directory's name
        # through the rename map, so a mask recorded under the old
        # name keeps masking under the new logical name with no
        # crash window between a dir move and the manifest publish.
        # (The publish above is the ATOMIC commit point; its base is the
        # log as read under this lock — a concurrent streaming
        # micro-batch, written under the PRE-alter physical names which
        # the rename map keeps resolving, merges in instead of
        # vanishing.)
        return new_m
