"""Guard: no unbounded driver-side actions in query-path code.

Every `.collect()` / `.toPandas()` / `.toArrow()` in nimble_spark/,
and every pyarrow data read (`pq.read_table(`, `.to_table(`,
`read_row_groups(`, the package's `_read_file_batches*(` file reader),
must be on the allowlist below, each entry a BOUNDED metadata action
(probe-set bucket ids, index file lists, capped key discovery, scalar
bounds), an executor-side read, or an explicitly driver-side utility
(plan audit, DSL peek, small-slice serde). A new driver action in an
operator fails this test until it is justified here — the pattern the
100 TB bar forbids is iterating data rows on the driver, and that
never belongs on this list."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "nimble_spark"

ACTION_RE = re.compile(
    r"\.collect\(\)|\.toPandas\(\)|\.toArrow\(\)|\.first\(\)"
    r"|pq\.read_table\(|\.to_table\(|read_row_groups\(|_read_file_batches\w*\("
)

# (file relative to nimble_spark/, substring that must appear within
# the surrounding ±8 lines, justification)
ALLOWED = [
    ("plans/audit.py", "df.collect()", "plan-audit harness executes the query to get the AQE final plan"),
    ("plans/scan_metrics.py", "df.collect()", "reader-stats harness executes the query so the scan SQLMetrics are populated; callers pass 1-row probes (aggs) in query paths"),
    ("operators/format_surface.py", "keys_df.agg", "single-row min/max bounds of the probe keys"),
    ("sources/serde.py", "df.toArrow()", "documented driver-side small-slice serde; serialize_partitioned is the bulk default"),
    ("sources/serde.py", "limit(max_batch_keys + 1)", "lookup request batch and its hit rows, each HARD-CAPPED at max_batch_keys+1 rows (a batch over either cap is served executor-side; one over the distinct-key cap raises, pointing at the distributed semi-join)"),
    ("sources/flatmap.py", "limit(MAX_FLATMAP_KEYS + 1)", "write-time key discovery, hard-capped (NimbleConfig.h:27 analogue)"),
    ("sources/table.py", "pmod(F.xxhash64", "bucket ids of the caller-supplied probe values (O(len(values)))"),
    ("sources/table.py", "mn_{k}", "single-row global min/max agg feeding the z-order bit scaling — one row regardless of table size"),
    ("sources/table.py", 'to_table(columns=["file"]', "sorted-index file list — file-granularity metadata, read with pyarrow and filtered to the probe keys"),
    ("sources/datasource.py", "_read_file_batches", "the format(\"nimble\") file reader: runs executor-side, one file per InputPartition (definitions and per-partition calls)"),
    ("sources/datasource.py", "pq.read_table(file_path, columns=file_cols", "the executor-side reader's one-file read, projected and filtered"),
    ("sources/bloom.py", "pa_pq.read_table(sc_path)", "the bloom sidecar: one small metadata file of per-row-group bloom bitsets, no data rows"),
    ("sources/bloom.py", "_bucket_ids(m, key, values)", "EXPLAIN PRUNING's bucket ids of the caller-supplied probe values: one row of O(len(values)) ints, no data rows"),
    ("sources/serde.py", "pushed = [(stored[0], \"in\"", "serve_lookups' driver read of its hit files: only the files the point-lookup pruning keeps, filtered to the batch's keys, and only while their bytes fit spark.sql.autoBroadcastJoinThreshold (else the Spark read)"),
    ("sources/encoding_report.py", "df.agg(*aggs).first()", "single-row per-column stats (ndv/min/max/bytes) for the encoding-cost report — EncodingSelectionPolicy analogue runs on aggregates, never rows"),
    ("sources/encoding_policy.py", "df.agg(*aggs).first()", "single-row profile pass (one agg row regardless of table size) feeding the policy decision — same bounded shape as encoding_report.py"),
    ("sources/merge.py", 'select("_f")', "affected-FILE list for copy-on-write MERGE — file-granularity metadata (≤ table file count), produced by a distributed semi-join; source keys never reach the driver"),
    ("sources/merge.py", "pmod(F.xxhash64", "bucket ids of the source keys on a hash-bucketed merge — ≤ n_buckets distinct values (bounded metadata) pruning the discovery scan to candidate bucket directories"),
    ("sources/merge.py", "df.select(*pkeys).distinct()", "distinct PARTITION tuples the dynamic overwrite replaces — bounded by partition count (directory-granularity metadata, the same knowledge Spark's dynamic mode derives driver-side before its swap)"),
    ("plans/advisor.py", "table.agg(*aggs).first()", "single-row NDV aggregate over the advisor's candidate columns — one row regardless of table size, same bounded shape as encoding_policy.py"),
    ("sources/table.py", "limit(1).collect()[0]", "one-row diagnostic sample on a CHECK-constraint violation, only on the write-abort error path"),
    ("sources/table.py", "__h_{c}", "single-row fingerprint aggregate for duplicate-column detection (dedup_columns write option) — one row regardless of table size; the per-pair verify is a limit(1) count"),
    ("tools.py", "", "interactive DSL/dump utilities are driver-side by definition"),
    ("sources/table.py", 'pd.DataFrame({"rel": bad})', "verify_table_distributed result: one relative PATH per corrupt file (expected: zero) — hashing distributes, only mismatch names return"),
    ("operators/lifecycle.py", 'agg(F.max("l_orderkey"))', "single-row max agg sizing the recluster fixture's scale-relative narrow append — one row regardless of table size, build-time only"),
]


def test_all_driver_actions_are_allowlisted():
    unexplained = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines):
            if not ACTION_RE.search(line):
                continue
            ctx = "\n".join(lines[max(0, i - 8): i + 9])
            ok = any(
                rel == f and (marker == "" or marker in ctx)
                for f, marker, _ in ALLOWED
            )
            if not ok:
                unexplained.append(f"{rel}:{i + 1}: {line.strip()}")
    assert not unexplained, (
        "driver-side actions outside the allowlist (justify in "
        "tests/test_no_driver_collect.py if bounded-metadata):\n"
        + "\n".join(unexplained)
    )
