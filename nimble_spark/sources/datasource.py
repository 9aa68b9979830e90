"""Python DataSource connector: ``spark.read.format("nimble")``.

The idiomatic-Spark face of the table layer (SURVEY §2.1 connectors):
read_table() is the library API; this DataSource makes the same
manifest-driven selective scan available to plain ``spark.read`` /
SQL users, with Catalyst integration doing the work the reference's
SelectiveNimbleReader does natively:

- **Filter pushdown** (``pushFilters``): every eq/in/range constraint
  on a column with per-file min/max stats prunes FILES before any
  partition is planned — the file-level analogue of the reference's
  stride skipping. Filters are also left in the plan (returned as
  unsupported) so Spark applies the exact row-level residual; pruning
  here is allowed to be conservative, never wrong.
- **Column pruning**: Spark hands the reader its pruned schema; each
  partition reads exactly those parquet columns (ReadSchema reaches
  the pyarrow scan).
- **Parallelism**: one InputPartition per manifest file (stripe-group
  = split), so a 1000-executor cluster fans out by file exactly like
  the native parquet source.

Partitions stream Arrow RecordBatches (no per-row Python), so the
only Python on the data path is pyarrow's C++ parquet reader.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from nimble_spark.sources.table import STATS_GEN as _STATS_GEN
from nimble_spark.sources.table import _next_commit, _prune_entries, read_manifest


class NimbleFilePartition(InputPartition):
    def __init__(self, file_path: str, constraints: list | None = None):
        self.file_path = file_path
        # (col, kind, value) tuples — picklable, rebuilt into a
        # pyarrow expression inside the worker (read())
        self.constraints = constraints or []


class NimbleDataSource(DataSource):
    """``spark.read.format("nimble").load(path)`` over a nimble_spark
    table directory (write_table output)."""

    @classmethod
    def name(cls) -> str:
        return "nimble"

    def schema(self) -> StructType:
        # schema lives in the root — never materialize pages for it
        manifest = read_manifest(self.options["path"], materialize=False)
        return _logical_struct(manifest)

    def reader(self, schema: StructType) -> "NimbleReader":
        # Filter pushdown is OPT-IN per load: Spark 4.1's python-DS
        # planning caches the LAST scan's baked read plan at the
        # relation level, so a filterless action on a reused DataFrame
        # silently reuses the previous scan's pruned partitions —
        # wrong rows, not just wrong cost (observed on 4.1.2; see
        # NimblePushdownReader). The default reader never prunes on
        # pushed filters, so any reuse pattern stays correct; callers
        # that scan fresh-per-query opt in for stats pruning with
        # .option("pushdown", "true").
        if str(self.options.get("pushdown", "")).lower() in ("true", "1"):
            return NimblePushdownReader(self.options["path"], schema)
        return NimbleReader(self.options["path"], schema)

    def streamReader(self, schema: StructType) -> "NimbleStreamReader":  # noqa: N802
        return NimbleStreamReader(
            self.options["path"],
            schema,
            max_commits_per_trigger=int(
                self.options.get("maxcommitspertrigger", 0) or 0
            ),
            starting_commit=int(self.options.get("startingcommit") or -1),
        )

    def writer(self, schema: StructType, overwrite: bool) -> "NimbleWriter":
        return NimbleWriter(self.options["path"], overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "NimbleStreamWriter":  # noqa: N802
        return NimbleStreamWriter(self.options["path"])


def _logical_struct(manifest: dict) -> StructType:
    """The manifest schema through the alter.py mapping: dropped
    physical fields removed, renamed ones surfaced logically."""
    mapping = manifest.get("schema_mapping") or {}
    dropped = set(mapping.get("dropped", []))
    ren = mapping.get("renames") or {}
    fields = [
        dict(f, name=ren.get(f["name"], f["name"]))
        for f in manifest["schema"]["fields"]
        if f["name"] not in dropped
    ]
    return StructType.fromJson({"type": "struct", "fields": fields})


def _pa_filter(constraints: list):
    """(col, kind, value) constraint tuples → a pyarrow dataset filter
    expression, or None. Applying the filter inside the pyarrow read
    is the stride/chunk-skipping tier the file-level manifest pruning
    can't reach: row groups whose stats exclude the predicate are
    never decoded, and surviving rows are filtered before they cross
    the Arrow bridge. Over-filtering is impossible — the expressions
    are the exact SQL semantics (NULL comparisons drop, as Spark's
    residual would) and Spark re-applies every filter anyway. Double
    comparisons are left to that residual: pyarrow compares NaN false,
    where Spark orders it above every number and equal to itself."""
    import pyarrow.compute as pc

    expr = None
    for col, kind, value in constraints:
        if any(isinstance(v, float) for v in (value if kind == "in" else [value])):
            continue
        f = pc.field(col)
        if kind == "eq":
            e = f == value
        elif kind == "in":
            e = f.isin(list(value))
        elif kind == "gt":
            e = f > value
        elif kind == "ge":
            e = f >= value
        elif kind == "lt":
            e = f < value
        elif kind == "le":
            e = f <= value
        elif kind == "isnull":
            e = f.is_null()
        elif kind == "notnull":
            e = f.is_valid()
        elif kind == "startswith":
            e = pc.starts_with(f, value)
        else:
            continue
        expr = e if expr is None else expr & e
    return expr


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _path_partition_values(file_path: str) -> dict:
    """Raw Hive ``key=value`` directory segments along the file's
    path (partition values exist ONLY here — the leaf parquet does
    not store the column). URL-escaped values are unquoted; the Hive
    null sentinel maps to None."""
    import os as _os
    from urllib.parse import unquote

    out: dict = {}
    for seg in file_path.split(_os.sep)[:-1]:
        if "=" in seg and not seg.startswith("."):
            k, _, v = seg.partition("=")
            out[k] = None if v == _HIVE_NULL else unquote(v)
    return out


def _parse_partition_value(raw, dtype: str):
    """Path-string → typed Python value per the DECLARED Spark type.
    STRING is identity (no lossy re-inference: '01' stays '01' — the
    same fidelity contract as table._plan_parquet, which plans every
    scan with the manifest's declared schema)."""
    if raw is None:
        return None
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if dtype in ("float", "double"):
        return float(raw)
    if dtype == "boolean":
        return raw.lower() == "true"
    if dtype == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if dtype.startswith("decimal"):
        from decimal import Decimal

        return Decimal(raw)
    if dtype.startswith("timestamp"):
        import datetime

        return datetime.datetime.fromisoformat(raw)
    return raw  # string and fallback


def _pa_partition_type(dtype: str):
    import pyarrow as pa

    fixed = {
        "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
        "bigint": pa.int64(), "float": pa.float32(), "double": pa.float64(),
        "boolean": pa.bool_(), "date": pa.date32(), "string": pa.string(),
        "binary": pa.binary(),
    }
    if dtype in fixed:
        return fixed[dtype]
    if dtype.startswith("decimal"):
        import re as _re

        m = _re.match(r"decimal\((\d+),\s*(\d+)\)", dtype)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
    if dtype.startswith("timestamp"):
        return pa.timestamp("us")
    return pa.string()


def _partition_file_admitted(pvals: dict, constraints: list | None) -> bool:
    """File-level partition pruning: evaluate pushed constraints that
    reference partition columns against the file's (already-typed)
    partition values. Conservative — incomparable types keep the file
    (Spark re-applies every filter row-exactly)."""
    for col, kind, cv in constraints or ():
        if col not in pvals:
            continue
        val = pvals[col]
        if kind == "isnull":
            if val is not None:
                return False
            continue
        if kind == "notnull":
            if val is None:
                return False
            continue
        if val is None:
            return False  # non-null comparison over the null partition
        try:
            if kind == "eq" and not val == cv:
                return False
            if kind == "in" and val not in cv:
                return False
            if kind == "gt" and not val > cv:
                return False
            if kind == "ge" and not val >= cv:
                return False
            if kind == "lt" and not val < cv:
                return False
            if kind == "le" and not val <= cv:
                return False
            if kind == "startswith" and not (
                isinstance(val, str) and val.startswith(cv)
            ):
                return False
        except TypeError:
            continue  # incomparable: keep
    return True


def _read_file_batches(
    file_path: str,
    columns,
    constraints: list | None = None,
    part_types: dict | None = None,
    declared_types: dict | None = None,
) -> Iterator:
    """Read one parquet file as Arrow batches for the DataSource
    bridge. Spark writes TimestampType as INT96, which pyarrow
    surfaces as timestamp[ns]; the Arrow bridge rejects NANOSECOND, so
    timestamp columns down-cast to the microseconds Spark stores.

    ``part_types`` (partition column → declared simpleString type)
    makes Hive-partitioned tables readable: partition values live
    only in directory names, so requested partition columns are
    parsed from the path at their DECLARED type (string '01' stays
    '01'), attached as constant arrays, and pushed constraints on
    them prune the whole file before any byte is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part_types = part_types or {}
    pvals = {}
    if part_types:
        raw = _path_partition_values(file_path)
        pvals = {
            k: _parse_partition_value(raw[k], t)
            for k, t in part_types.items()
            if k in raw
        }
        if not _partition_file_admitted(pvals, constraints):
            return
        # partition columns are not in the file: keep them out of the
        # pyarrow read and its filter expression
        constraints = [c for c in (constraints or []) if c[0] not in pvals]
    filt = None
    if constraints:
        try:
            filt = _pa_filter(constraints)
        except Exception:  # noqa: BLE001 — unfilterable type/value:
            filt = None  # fall back to a full read (Spark re-filters)
    file_cols = [c for c in columns if c not in pvals] if columns else None
    if columns and not file_cols:
        # Pure-partition projection (e.g. SELECT p): no data column
        # needs decoding — the row count comes from the footer, zero
        # data bytes are read, and every output column is a path
        # constant. (A zero-column pyarrow read reports num_rows=0,
        # which would silently drop the rows.) Any pushed data-column
        # filter would have forced its column into ``columns``, so no
        # filter is lost here; Spark re-applies residuals regardless.
        n = pq.ParquetFile(file_path).metadata.num_rows
        arrays = []
        for c in columns:
            t = _pa_partition_type(part_types[c])
            v = pvals.get(c)
            arrays.append(pa.nulls(n, t) if v is None else pa.array([v] * n, type=t))
        yield from pa.Table.from_arrays(arrays, names=list(columns)).to_batches()
        return
    table = pq.read_table(file_path, columns=file_cols, filters=filt)
    fields = [
        pa.field(f.name, pa.timestamp("us", f.type.tz))
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in table.schema
    ]
    table = table.cast(pa.schema(fields))
    if declared_types:
        # alter_table widen: the manifest's declared type is the read
        # contract, and Spark validates Arrow batches against it — a
        # narrow file vector under a widened declared schema crashed
        # the vectorized accessor (getLong on an int32 vector). Upcast
        # LOSSLESS pairs only (int chain up, float→double), mirroring
        # table._safe_widening; any other mismatch passes through
        # untouched.
        _want_of = {
            "byte": pa.int8(), "short": pa.int16(), "integer": pa.int32(),
            "long": pa.int64(), "float": pa.float32(), "double": pa.float64(),
        }
        wfields, changed = [], False
        for f in table.schema:
            want = _want_of.get(declared_types.get(f.name))
            if (
                want is not None
                and f.type != want
                and (
                    (
                        pa.types.is_signed_integer(f.type)
                        and pa.types.is_signed_integer(want)
                        and want.bit_width > f.type.bit_width
                    )
                    or (f.type == pa.float32() and want == pa.float64())
                )
            ):
                wfields.append(pa.field(f.name, want, f.nullable))
                changed = True
            else:
                wfields.append(f)
        if changed:
            table = table.cast(pa.schema(wfields))
    if pvals:
        n = table.num_rows
        want = list(columns) if columns else list(table.schema.names) + [
            k for k in part_types if k in pvals
        ]
        arrays, names = [], []
        for c in want:
            if c in pvals and c not in table.schema.names:
                t = _pa_partition_type(part_types[c])
                v = pvals[c]
                arrays.append(
                    pa.nulls(n, t) if v is None else pa.array([v] * n, type=t)
                )
            else:
                arrays.append(table.column(c))
            names.append(c)
        table = pa.Table.from_arrays(arrays, names=names)
    yield from table.to_batches()


def _read_file_batches_mapped(
    file_path: str,
    logical_columns: list,
    constraints: list | None,
    part_types: dict | None,
    schema_mapping: dict,
    manifest_types: dict,
) -> Iterator:
    """The schema-mapped variant of ``_read_file_batches`` (alter.py
    rename/drop/add): requested columns arrive LOGICAL; the file
    stores PHYSICAL names and may predate an added column entirely.
    Reads the physical columns present in the file, null-fills the
    absent ones at their declared type, and surfaces the batch under
    the logical names — so `format("nimble")` reads of altered tables
    are indistinguishable from reads of rewritten ones. Constraints
    (already physical via pushFilters) on columns the file lacks are
    dropped for this file (stats pruning already treated them
    conservatively; Spark's residual re-applies row-exact)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ren = schema_mapping.get("renames") or {}
    inv = {l: p for p, l in ren.items()}
    present = set(pq.read_schema(file_path).names)
    part_types = part_types or {}
    phys_req = [inv.get(c, c) for c in logical_columns]
    readable = [c for c in phys_req if c in present or c in part_types]
    missing = [c for c in phys_req if c not in present and c not in part_types]
    cons = [c for c in (constraints or []) if c[0] in present or c[0] in part_types]
    for batch in _read_file_batches(
        file_path, readable, cons, part_types, declared_types=manifest_types
    ):
        t = pa.Table.from_batches([batch])
        n = t.num_rows
        arrays, names = [], []
        for logical, phys in zip(logical_columns, phys_req):
            if phys in missing:
                typ = _pa_partition_type(manifest_types.get(phys, "string"))
                arrays.append(pa.nulls(n, typ))
            else:
                arrays.append(t.column(phys))
            names.append(logical)
        yield from pa.Table.from_arrays(arrays, names=names).to_batches()


def _manifest_partition_types(manifest: dict, schema: StructType) -> dict:
    """Partition column → declared simpleString type, from the
    manifest's partition index keys ∩ the reader schema. Empty for
    unpartitioned tables (the common case pays nothing)."""
    keys = manifest.get("indexes", {}).get("partition", {}).get("keys") or []
    if not keys:
        return {}
    return {
        f.name: f.dataType.simpleString() for f in schema.fields if f.name in keys
    }


class NimbleReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType):
        self.path = path
        # Root-only on sharded manifests: partitions() loads only the
        # pages the pushed filters can't exclude by their folded
        # per-page min/max bounds.
        self.manifest = read_manifest(path, materialize=False)
        self.columns = [f.name for f in schema.fields]
        self.part_types = _manifest_partition_types(self.manifest, schema)
        self._constraints: list[tuple[str, str, object]] = []
        # alter.py metadata-only evolution: batches surface the
        # LOGICAL view; files, stats and pushed constraints speak
        # PHYSICAL names
        self.mapping = self.manifest.get("schema_mapping") or {}
        self._ren_inv = {
            l: p for p, l in (self.mapping.get("renames") or {}).items()
        }
        self.manifest_types = {
            f["name"]: f["type"] if isinstance(f["type"], str) else "string"
            for f in self.manifest["schema"]["fields"]
        }

    def partitions(self) -> list[NimbleFilePartition]:
        kept = [
            os.path.join(self.path, f["path"])
            for f in _prune_entries(self.manifest, self.path, self._constraints)
        ]
        if not kept:
            # Stats pruning can exclude EVERY file (filter provably
            # empty). Spark's Python source still plans one task and
            # calls read(partition) with it — an empty partition list
            # here surfaces as read(None) in the worker — so return a
            # single no-file sentinel that read() treats as empty.
            return [NimbleFilePartition(None)]
        return [NimbleFilePartition(p, self._constraints) for p in kept]

    def read(self, partition: NimbleFilePartition) -> Iterator:
        if partition is None or partition.file_path is None:
            return  # all files pruned: provably-empty scan
        if self.mapping:
            yield from _read_file_batches_mapped(
                partition.file_path,
                self.columns,
                getattr(partition, "constraints", None),
                self.part_types,
                self.mapping,
                self.manifest_types,
            )
            return
        yield from _read_file_batches(
            partition.file_path,
            self.columns,
            getattr(partition, "constraints", None),
            self.part_types,
            declared_types=self.manifest_types,
        )


class NimblePushdownReader(NimbleReader):
    """The stats-pruning reader — OPT-IN via ``option("pushdown",
    "true")`` because of a Spark 4.1 planning-cache hazard: the JVM
    caches the python data source's baked read plan (read function +
    partitions) at the relation level and REFRESHES it only when a
    scan pushes filters. A filterless action on a reused DataFrame
    (``d = load(...); d.filter(...).count(); d.count()``) therefore
    silently reuses the PREVIOUS scan's pruned partitions — wrong
    rows, not wrong cost, and invisible to this process (the stale
    scan never re-enters Python). Under the opt-in the contract is
    fresh-load-per-query, which every registry query and the filter
    fuzz follow; the default reader plans every file and lets Spark's
    residual do the filtering, which is correct under ANY reuse.

    Semantics when active: every eq/in/range/null constraint on a
    column with per-file min/max stats prunes FILES before planning
    (the file-level analogue of the reference's stride skipping), and
    rides into each partition as a pyarrow row-group filter. Every
    filter is also reported unsupported, so Spark keeps the exact
    row-level residual — pruning is conservative, never wrong."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Record file-prunable constraints; report EVERY filter as
        unsupported so Spark keeps the exact row-level residual in the
        plan — stats pruning is a superset-safe file skip, not a row
        filter."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:  # nested columns: no file stats
                continue
            col = self._ren_inv.get(attr[0], attr[0])  # logical → physical
            if isinstance(f, EqualTo):
                self._constraints.append((col, "eq", f.value))
            elif isinstance(f, In):
                self._constraints.append((col, "in", tuple(f.value)))
            elif isinstance(f, GreaterThan):
                self._constraints.append((col, "gt", f.value))
            elif isinstance(f, GreaterThanOrEqual):
                self._constraints.append((col, "ge", f.value))
            elif isinstance(f, LessThan):
                self._constraints.append((col, "lt", f.value))
            elif isinstance(f, LessThanOrEqual):
                self._constraints.append((col, "le", f.value))
            elif isinstance(f, IsNull):
                self._constraints.append((col, "isnull", None))
            elif isinstance(f, IsNotNull):
                self._constraints.append((col, "notnull", None))
            elif isinstance(f, StringStartsWith):
                self._constraints.append((col, "startswith", f.value))
        return filters  # all residual — Spark re-applies row-exact


def register_nimble_source(spark) -> None:
    """Idempotently register the ``nimble`` format on a session.
    Python-source filter pushdown is opt-in in Spark 4 — enable it so
    pushFilters actually receives the predicates (runtime-settable;
    also set in session.py defaults, but the driver uses a plain
    session)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(NimbleDataSource)


class NimbleStreamReader(DataSourceStreamReader):
    """Commit-log CDC streaming source: each micro-batch is the file
    additions of the commits between the start and end offsets — the
    streaming face of ``read_changes``. Offsets are commit indices, so
    progress tracking is exactly the table's own provenance log:
    restart-safe (offsets live in the checkpoint), no directory
    diffing, O(changed data) per batch no matter the table size."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        max_commits_per_trigger: int = 0,
        starting_commit: int = -1,
    ):
        self.path = path
        self.columns = [f.name for f in schema.fields]
        _m0 = read_manifest(path, materialize=False)
        self.part_types = _manifest_partition_types(_m0, schema)
        self.mapping = _m0.get("schema_mapping") or {}
        self.manifest_types = {
            f["name"]: f["type"] if isinstance(f["type"], str) else "string"
            for f in _m0["schema"]["fields"]
        }
        # startingCommit (Delta startingVersion analogue): a FRESH
        # query begins AFTER this commit instead of -1. This is the
        # documented re-bootstrap path for a table whose history
        # contains a row-removing rollback (which an append-only
        # stream refuses to replay): read a snapshot, then stream
        # with startingCommit = the snapshot's commit.
        self.starting = starting_commit
        # Admission control (maxFilesPerTrigger analogue, in commits).
        # 0 = unbounded: each micro-batch takes everything available.
        # N > 0: each micro-batch advances at most N commits — this is
        # what makes multi-commit replays DETERMINISTIC micro-batch
        # sequences (commit order == batch order), so watermark
        # semantics over a replay are exactly reproducible.
        self.max_commits = max_commits_per_trigger
        # High-water mark of offsets this reader has ever exposed.
        # ``None`` = unseeded. Restart safety rests on the observed
        # Spark protocol (python_streaming_source_runner → JVM
        # PythonMicroBatchStream): when a checkpoint exists, Spark
        # re-plans the last checkpointed batch — partitions(K_prev, K)
        # — BEFORE its first latestOffset() call, and that call seeds
        # the mark at K via the clamp in partitions(). An unseeded
        # latestOffset() therefore means a FRESH query (no checkpoint;
        # traced order there is latestOffset → initialOffset →
        # partitions(-1, end)), where rate-limiting from -1 is exactly
        # right. Without the seed-from-partitions clamp, a restarted
        # rate-limited reader would emit min(-1+N, latest) — an end
        # offset BELOW the checkpoint — Spark would record that
        # regressed offset in the WAL, and commits already processed
        # before the restart would replay (duplicate rows).
        # commit() also clamps, as defense in depth.
        self._served: int | None = None

    def initialOffset(self) -> dict:  # noqa: N802
        if self._served is None:
            # fresh start: rate-limit from the configured start
            self._served = self.starting
        return {"commit": self.starting}

    def latestOffset(self) -> dict:  # noqa: N802
        # root-only: the commit log lives in the root and this polls
        # every trigger — never page-materialize a huge table here.
        # Offsets are commit NUMBERS (stable across expire_snapshots),
        # not log positions — a checkpointed cursor must keep meaning
        # the same commit after history is folded.
        commits = read_manifest(self.path, materialize=False).get("commits", [])
        latest = _next_commit(commits) - 1
        if self.starting > latest:
            # validated like read_changes' since_commit: a typo'd
            # startingCommit must not run as a silently-empty stream
            # that later skips real commits
            raise ValueError(
                f"startingCommit {self.starting} is beyond the table's "
                f"latest commit {latest}"
            )
        if self.max_commits <= 0:
            self._served = max(latest, self.starting)
            return {"commit": self._served}
        base = self.starting if self._served is None else self._served
        self._served = max(min(base + self.max_commits, latest), self.starting)
        return {"commit": self._served}

    def partitions(self, start: dict, end: dict):
        # Replayed batches (restart with a WAL-pending batch) reach
        # partitions() without a prior latestOffset() — seed the mark
        # from the checkpointed window so later offsets stay monotone.
        hwm = max(start["commit"], end["commit"])
        if self._served is None or self._served < hwm:
            self._served = hwm
        from nimble_spark.sources.table import resolve_historical_file

        manifest = read_manifest(self.path, materialize=False)
        commits = manifest.get("commits", [])
        from nimble_spark.sources.table import _commit_base

        base = _commit_base(commits)
        if commits and start["commit"] < base - 1:
            raise ValueError(
                f"stream cursor at commit {start['commit']} fell behind the "
                f"expire_snapshots fold base {base}; the missing commits are "
                f"gone — re-bootstrap from a snapshot read and restart with "
                f".option('startingCommit', {base - 1}) or later"
            )
        if base > 0 and start["commit"] == base - 1 and self.starting != base - 1:
            # ADVICE r9 (stream sibling of read_changes' fold-boundary
            # guard): a CHECKPOINTED cursor landing exactly one behind
            # the fold base consumed commits 0..base-1 and needs commit
            # {base}'s true delta — folded away. Replaying would emit
            # the fold base's FULL state as inserts with no bootstrap
            # signal. An explicit .option('startingCommit', base-1) on
            # a fresh query (self.starting == base-1) IS that signal
            # and passes; a silent checkpoint replay fails loudly.
            raise ValueError(
                f"stream cursor at commit {start['commit']} is the "
                f"expire_snapshots fold boundary: commit {base}'s true "
                f"delta was folded away and this batch would re-deliver "
                f"the table's FULL pre-fold state as inserts — restart "
                f"the query from a fresh snapshot, or acknowledge the "
                f"re-bootstrap with .option('startingCommit', {base - 1})"
            )
        window = commits[start["commit"] + 1 - base : end["commit"] + 1 - base]
        for c in window:
            # A rollback that REMOVED rows cannot be expressed by an
            # append-only stream (emitting its window would silently
            # resurrect the rolled-back keys downstream) — fail the
            # batch loudly; the consumer re-bootstraps from a snapshot.
            if c.get("mode") == "rollback" and c.get("rows_added", 0) < 0:
                raise ValueError(
                    f"stream window ({start['commit']}, {end['commit']}] "
                    f"contains commit {c.get('commit')}: a rollback that "
                    f"removed rows — an append-only stream cannot replay "
                    f"it; restart the query from a fresh snapshot"
                )
        added = [
            f
            for c in window
            # data_change=False commits (compaction) rewrite bytes, not
            # rows — a stream must not re-emit the whole table because
            # the layout changed (Delta-OPTIMIZE semantics).
            if c.get("data_change", True)
            for f in c.get("files", [])
        ]
        resolved = [resolve_historical_file(self.path, f) for f in added]
        gone = [f for f, r in zip(added, resolved) if r is None]
        if gone:
            raise ValueError(
                f"stream window ({start['commit']}, {end['commit']}] is gone "
                f"(compaction/vacuum removed {gone[:3]}…)"
            )
        return [NimbleFilePartition(r) for r in resolved]

    def read(self, partition: NimbleFilePartition) -> Iterator:
        # The mapping is pinned at reader construction; an alter
        # landing mid-stream applies from the next query (re)start —
        # same contract as a schema change under any streaming source.
        if self.mapping:
            yield from _read_file_batches_mapped(
                partition.file_path, self.columns, None, self.part_types,
                self.mapping, self.manifest_types,
            )
            return
        yield from _read_file_batches(
            partition.file_path, self.columns, None, self.part_types,
            declared_types=self.manifest_types,
        )

    def commit(self, end: dict) -> None:
        # Offsets are durable in the table's own commit log; just keep
        # the in-process high-water mark monotone.
        if self._served is None or self._served < end["commit"]:
            self._served = end["commit"]


class NimbleWriteMessage(WriterCommitMessage):
    def __init__(self, rel_path: str, rows: int):
        self.rel_path = rel_path
        self.rows = rows


class NimbleWriter(DataSourceArrowWriter):
    """``df.write.format("nimble").mode("overwrite"|"append").save(path)``.

    Executors stream their partition's Arrow batches straight into a
    uniquely-named parquet file in the table directory (shared storage
    on a cluster); only files whose commit message reaches the driver
    enter the manifest, so a failed task's half-file is invisible to
    readers and reclaimed by ``vacuum_table`` — the same
    uncommitted-debris discipline as the library writer. ``commit``
    (driver) rebuilds the manifest incrementally (append reuses prior
    entries) and logs the commit, so tables written through plain
    ``df.write`` are full citizens: indexable, time-travelable,
    CDC-streamable."""

    def __init__(self, path: str, overwrite: bool):
        import uuid as _uuid

        self.path = path
        self.overwrite = overwrite
        # Job token: generated once on the driver and carried to every
        # executor task via pickling, so all of THIS job's staged files
        # share one recognizable prefix. The commit-time debris sweep
        # then removes only this job's own failed/retried attempts —
        # never a CONCURRENT writer's in-flight files, whose rows would
        # otherwise silently vanish from that writer's commit (the
        # write phase holds no lock; only commits serialize).
        self.job_token = _uuid.uuid4().hex[:12]
        os.makedirs(path, exist_ok=True)
        if not overwrite:
            # Appending through the DataSource writes the incoming
            # frame's column names verbatim into files; on a table
            # with a metadata-only rename/drop (alter.py) that would
            # mix logical-named files into a physically-named table —
            # a corruption of the mapping contract, not a mode this
            # writer supports. write_table() maps names; overwrite
            # resets the table (and the mapping) wholesale.
            try:
                _m = read_manifest(path, materialize=False)
            except (OSError, KeyError, ValueError):
                _m = {}
            if _m.get("schema_mapping"):
                raise ValueError(
                    "append via format('nimble') to a table with "
                    "metadata-only schema changes (alter_table) is not "
                    "supported — use write_table(mode='append'), which "
                    "maps logical names to the stored physical names"
                )
            # Directory-shaped layouts are append CONTRACTS: this
            # writer stages flat files in the table root, so an append
            # to a partitioned/bucketed/cut table cannot reproduce the
            # layout — before this guard it silently DROPPED the
            # partition index and lost the appended rows from the
            # manifest (r7 probe). Same refusal write_table raises.
            _pidx = _m.get("indexes", {}) or {}
            for _k in ("partition", "hash", "cut"):
                if _k in _pidx:
                    raise ValueError(
                        f"append via format('nimble') to a {_k}-layout "
                        f"table is not supported (this writer stages "
                        f"flat files and cannot reproduce the directory "
                        f"layout) — use write_table(mode='append') or "
                        f"streaming/sink.stream_to_table with the "
                        f"table's WriteOptions"
                    )
        # NOTE: mode=overwrite clears the previous generation inside the
        # LOCKED commit, not here — staging the new generation alongside
        # the old keeps the table readable (manifest-true readers see
        # the old version) until the atomic manifest publish.

    def write(self, iterator) -> NimbleWriteMessage:
        import uuid as _uuid

        import pyarrow.parquet as pq

        rel = f"pyds-{self.job_token}-{_uuid.uuid4().hex}.parquet"
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(self.path, rel), batch.schema, compression="zstd"
                    )
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return NimbleWriteMessage("", 0)  # empty partition: no file
        return NimbleWriteMessage(rel, rows)

    def commit(self, messages) -> None:
        from nimble_spark.sources.table import table_write_lock

        # Same serialization discipline as write_table/merge/compact:
        # the cleanup + manifest rebuild + publish span holds the table
        # write lock, so a plain df.write.format("nimble") append racing
        # a library mutation cannot last-wins-publish a stale manifest.
        with table_write_lock(self.path):
            self._commit_unlocked(messages)

    def _commit_unlocked(
        self,
        messages,
        commit_extra: dict | None = None,
        publish=None,
    ) -> None:
        import json as _json

        from pyspark.sql.types import StructType as _St

        from nimble_spark.sources.table import _build_manifest, _publish_successor

        committed = {m.rel_path for m in messages if m is not None and m.rel_path}

        # Overwrite starts a new table; an append derives from the
        # prior root (no/corrupt prior manifest → first commit semantics)
        prior = None
        if not self.overwrite:
            try:
                prior = read_manifest(self.path)
            except (OSError, ValueError, KeyError):
                prior = None
        reuse: dict = {}
        prior_files: set = set()
        if prior is not None:
            if prior.get("column_aliases"):
                # dedup_columns tables store a reduced physical schema;
                # this writer stages full-schema files, which would
                # produce a mixed layout. write_table (which validates
                # + drops the aliases) is the append path for such
                # tables.
                raise ValueError(
                    "append via format('nimble') to a dedup_columns table "
                    "is unsupported; use write_table (it validates and "
                    "applies the column aliases)"
                )
            reuse = {e["path"]: e for e in prior["files"] if "nulls" in e}
            if prior.get("stats_gen", 1) < _STATS_GEN:
                # pre-fix entries may under-count nulls (see
                # table.STATS_GEN): re-describe instead of reusing
                reuse = {}
            prior_files = {e["path"] for e in prior["files"]}
        constraints = (prior or {}).get("constraints") or {}

        # Drop OUR OWN failed/retried task attempts that never
        # committed — matched by this job's token prefix, so a
        # concurrent job's in-flight files are never touched (they are
        # invisible to the manifest-true readers and, if their job
        # dies, vacuum_table's age-gated debris sweep reclaims them).
        # Same-token files in the PRIOR manifest are earlier
        # micro-batches of the streaming sink (one delegate writer —
        # one token — serves every batch) and must survive.
        mine = f"pyds-{self.job_token}-"
        for f in os.listdir(self.path):
            if (
                f.startswith(mine)
                and f.endswith(".parquet")
                and f not in committed
                and f not in prior_files
            ):
                os.remove(os.path.join(self.path, f))

        # Overwrite is PUBLISH-FIRST (r8 fault-injection sweep): the
        # previous generation stays on disk, the new manifest is built
        # around it (recursive exclusion below — the prior generation
        # may be Hive-partitioned/bucketed under p=X/ subdirs; a
        # root-only listdir sweep once left those behind and the
        # recursive manifest build RESURRECTED them, r7 probe), the
        # atomic publish is the commit point, and only THEN is the old
        # generation swept as unreferenced debris. The old sweep-first
        # ordering deleted the prior generation while the prior
        # manifest was still live — a crash before the publish left a
        # manifest referencing deleted files: a lost table.
        import pyarrow.parquet as pq

        any_file = next(iter(committed), None)
        if any_file is None and not reuse and not prior_files:
            # zero files AND no prior table = a broken first write.
            # With a prior table this is a valid no-op commit (empty
            # streaming micro-batch) — republish; note reuse may be
            # empty on a pre-STATS_GEN table (repair gate), where the
            # build below re-describes the prior files from disk.
            raise ValueError("nimble write committed zero files")
        spark_schema = (
            _St.fromJson((prior or read_manifest(self.path))["schema"])
            if any_file is None
            else _arrow_to_spark_schema(pq.read_schema(os.path.join(self.path, any_file)))
        )
        # Exclude stray files from the manifest build: a CONCURRENT
        # job's in-flight staged files (not yet committed — possibly
        # half-written, so describing them could even fail), crashed
        # jobs' leftovers, and a crashed compaction's staged merge
        # outputs. They stay on disk for their own commit or vacuum's
        # age-gated sweep; they must simply not enter OUR manifest.
        if self.overwrite:
            # the ENTIRE previous generation (any directory depth, any
            # name) is excluded from the new manifest — this commit's
            # files are the whole table
            from nimble_spark.sources.table import _unreferenced_parquet_rels

            stray = _unreferenced_parquet_rels(
                self.path, {os.path.normpath(f) for f in committed}
            )
        else:
            stray = {
                f
                for f in os.listdir(self.path)
                if f.endswith(".parquet") and f not in committed and f not in prior_files
            }
        # CHECK constraints gate EVERY append, this writer's included:
        # one distributed validation scan over just the staged files,
        # library NULL semantics (~expr drops NULLs → NULL passes),
        # BEFORE any manifest change — a violation leaves the staged
        # files as unreferenced debris for vacuum, never a commit.
        # (r7 probe: violating rows committed silently and the
        # constraints/tags keys vanished from the manifest.)
        if constraints and committed:
            # No SparkSession exists in the DS commit worker — validate
            # with DuckDB over exactly the staged files (SQL predicates
            # share the dialect for the comparison/arithmetic/boolean
            # shapes constraints use; WHERE NOT(expr) drops NULLs, the
            # same pass-on-NULL semantics as the library's ~expr scan).
            # A constraint DuckDB cannot bind must not commit silently:
            # refuse and point at write_table, which validates in Spark.
            import duckdb as _duck

            # paths become SQL string literals — escape quotes (legal
            # in POSIX paths) so a quoted table path can't turn the
            # validation query into a bind error (ADVICE r7)
            flist = ", ".join(
                "'" + os.path.join(self.path, f).replace("'", "''") + "'"
                for f in sorted(committed)
            )
            for cname, cexpr in constraints.items():
                try:
                    bad = _duck.sql(
                        f"SELECT COUNT(*) FROM read_parquet([{flist}]) "
                        f"WHERE NOT ({cexpr}) LIMIT 1"
                    ).fetchone()[0]
                except Exception as exc:  # dialect gap: never skip silently
                    raise ValueError(
                        f"CHECK constraint {cname!r} ({cexpr}) cannot be "
                        f"validated by this writer ({exc}); append via "
                        f"write_table, which validates in Spark"
                    ) from exc
                if bad:
                    raise ValueError(
                        f"CHECK constraint {cname!r} ({cexpr}) violated by "
                        f"this append; nothing was committed"
                    )
        # Flat files only: directory-shaped layouts were refused at
        # writer construction; the stats-shaped indexes carry with the
        # rest of the prior root
        data = _build_manifest(
            self.path, spark_schema, False, prior, reuse=reuse, exclude=stray
        )
        # A concurrent OVERWRITE may have swept our staged files before
        # this commit ran (overwrite replaces the table wholesale).
        # Refuse to publish a silent partial result — fail loudly.
        missing = committed - {f["path"] for f in data["files"]}
        if missing:
            raise RuntimeError(
                f"commit lost {len(missing)} staged files (concurrent "
                f"overwrite replaced the table?): {sorted(missing)[:3]}…"
            )
        data["schema"] = _json.loads(spark_schema.json())
        if self.overwrite:
            # Pre-existing delete masks die with the replaced table —
            # record them consumed IN the manifest (atomic with the
            # publish). Before this fence, a pyds overwrite left mask
            # dirs live (the sweep excludes _nimble) and they silently
            # swallowed matching keys in the NEW data.
            from nimble_spark.sources.deletes import mask_batch_dirs

            data["consumed_masks"] = mask_batch_dirs(self.path) or None
        # caller extras (the stream writer's batch_id) ride the commit
        # entry INSIDE the atomic publish — a second stamp-publish would
        # reopen the replay window a crash between the two leaves. An
        # append states its base log, so on a 'cas'-disciplined table
        # the publish folds in streaming micro-batches that landed
        # since this writer's read (ADVICE r10 #1); an overwrite resets
        # the log — no base statable, documented last-write-wins.
        _publish_successor(
            self.path,
            prior,
            data,
            "overwrite" if self.overwrite else "append",
            sorted(committed),
            entry=commit_extra,
            reset_history=self.overwrite,
            publish=publish,
        )
        if self.overwrite:
            # Commit point passed: the previous generation is now
            # unreferenced debris — sweep it through the metadata FS
            # (a crash mid-sweep leaves the rest for vacuum; readers
            # are manifest-true and never see it either way), then
            # drop emptied layout dirs so no stale directory shape
            # survives the reset.
            from nimble_spark.sources.fs import get_fs as _get_fs
            from nimble_spark.sources.table import MANIFEST_DIR as _MD

            _fs = _get_fs()
            for root, dirs, files in os.walk(self.path, topdown=True):
                dirs[:] = [d for d in dirs if d != _MD]
                for f in files:
                    rel = os.path.normpath(
                        os.path.relpath(os.path.join(root, f), self.path)
                    )
                    if f.endswith(".parquet") and rel not in committed:
                        _fs.delete(os.path.join(root, f))
                    elif f.endswith(".crc") and root != self.path:
                        _fs.delete(os.path.join(root, f))
            for root, _dirs, _files in os.walk(self.path, topdown=False):
                rel = os.path.relpath(root, self.path)
                if root == self.path or rel.split(os.sep)[0] == _MD:
                    continue
                if not os.listdir(root):  # emptied layout dir
                    os.rmdir(root)

    def abort(self, messages) -> None:
        # Never delete a file the MANIFEST references: abort receives
        # rel_paths by name, and a staged name colliding with a
        # committed file (token/name reuse by a replayed batch) would
        # otherwise delete live data (r8 probe: the stream replay
        # abort removed the original batch's committed file).
        try:
            live = {
                os.path.normpath(f["path"])
                for f in read_manifest(self.path)["files"]
            }
        except (OSError, ValueError, KeyError):
            live = set()
        for m in messages or []:
            if m is not None and getattr(m, "rel_path", ""):
                if os.path.normpath(m.rel_path) in live:
                    continue
                try:
                    os.remove(os.path.join(self.path, m.rel_path))
                except OSError:
                    pass  # abort cleanup is best-effort; leftover
                    # debris is excluded by the stray sweep + vacuum


def _arrow_to_spark_schema(arrow_schema):
    """Arrow → Spark schema via an empty pandas round-trip-free
    conversion (pyspark's own converter)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(arrow_schema)


class NimbleStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("nimble")`` — streaming SINK face of
    the connector (completing the quartet: batch read/write + stream
    read/write). Each micro-batch appends per-task parquet files and
    commits them into the manifest with the batch id recorded; a
    replayed batch id (failure between sink commit and checkpoint
    advance) is detected against the commit log and dropped instead
    of double-committing — idempotent per-batch appends on top of the
    at-least-once foreachBatch contract, same discipline as
    streaming/sink.py but usable from plain writeStream."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._delegate = NimbleWriter(path, overwrite=False)

    def write(self, iterator):
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (Spark API)
        import json as _json

        from nimble_spark.sources.fs import get_fs
        from nimble_spark.sources.table import (
            MANIFEST_DIR,
            MANIFEST_NAME,
            _root_discipline,
            table_write_lock,
        )

        # Discipline fence (r10, same rule as tag/property mutations):
        # on a 'cas'-disciplined table over a conditional-PUT store the
        # micro-batch commit itself goes LOCK-FREE — replay-check →
        # build → publish is made atomic by gating the publish on the
        # root version observed BEFORE the check, so no lock object is
        # needed at all (the S3-without-DynamoDB exactly-once shape).
        fs = get_fs()
        mf = os.path.join(self.path, MANIFEST_DIR, MANIFEST_NAME)
        use_cas = False
        if getattr(fs, "supports_cas_publish", False):
            try:
                use_cas = (
                    _root_discipline(_json.loads(fs.read_bytes(mf))) == "cas"
                )
            except (OSError, ValueError):
                use_cas = False  # first commit: lock path bootstraps
        if use_cas:
            self._commit_cas(messages, batchId, fs, mf)
            return

        # One lock span covers replay-check → append-commit → batch-id
        # stamp, so the check and the commit are atomic against any
        # concurrent writer (the lock is not reentrant — hence the
        # delegate's unlocked entry point).
        with table_write_lock(self.path):
            try:
                prior = read_manifest(self.path)
                done = {c.get("batch_id") for c in prior.get("commits", [])}
            except (OSError, ValueError, KeyError):
                done = set()
            if batchId in done:
                self._delegate.abort(messages)  # replay: drop staged files
                return
            # batch id rides the commit's own atomic publish — a
            # separate stamp-publish left a window where the data
            # committed but the stamp didn't, so a crash there made
            # the replay check miss and the batch append TWICE (r8
            # fault-injection class)
            self._delegate._commit_unlocked(
                messages, commit_extra={"batch_id": batchId}
            )

    def _commit_cas(self, messages, batchId: int, fs, mf: str) -> None:  # noqa: N803
        """Lock-free exactly-once micro-batch commit over a
        conditional-PUT store. Each attempt: snapshot the root VERSION,
        run the replay check and the full manifest build against that
        state (read_manifest is version-keyed, so the state it serves
        at an unchanged version IS the snapshotted one), then publish
        with ``write_if_version`` — success proves nothing moved since
        the check, making check+commit atomic without a lock; a lost
        race re-runs the whole attempt, re-checking the batch id
        against the NEW root (the concurrent writer may have been this
        very batch's replay twin)."""
        import json as _json
        import time as _time

        from nimble_spark.sources.table import (
            _json_safe,
            _prepare_manifest_root,
            _sweep_orphan_pages,
        )

        class _Lost(Exception):
            pass

        for attempt in range(16):
            ver = fs.version(mf)
            raw = _json.loads(fs.read_bytes(mf))
            if batchId in {c.get("batch_id") for c in raw.get("commits", [])}:
                self._delegate.abort(messages)  # replay: drop staged files
                return

            def _publish(manifest):
                prepared = _prepare_manifest_root(self.path, manifest)
                data = _json.dumps(prepared, indent=1, default=_json_safe).encode()
                if not fs.write_if_version(mf, data, ver):
                    raise _Lost()
                _sweep_orphan_pages(
                    os.path.dirname(mf), prepared.get("file_pages", [])
                )

            try:
                self._delegate._commit_unlocked(
                    messages, commit_extra={"batch_id": batchId}, publish=_publish
                )
                return
            except _Lost:
                _time.sleep(min(0.2, 0.005 * (2 ** attempt)))
        raise TimeoutError(
            f"CAS micro-batch commit on {mf} lost 16 consecutive races"
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._delegate.abort(messages)
