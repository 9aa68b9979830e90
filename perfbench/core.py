"""Shared machinery of the benchmark: spans, operation records,
percentiles, Spark job counts, scan counters and host stamps.

Layers are timed from outside, at the calls the workloads make into
the package's public functions. With tracing off a span is a no-op and
an operation records only its latency and whether its output checked.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from metrics import LAYER_NAMES

TAIL_GRID = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: int


class Tracer:
    """Span recorder. Spans stay in memory until :meth:`dump`."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def _record(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        span = Span(name, layer, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def span(self, name: str, layer: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, layer)

    def self_ms(self, ops: Optional[set[int]] = None) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out = {layer: 0.0 for layer in LAYER_NAMES}
        for i, s in enumerate(self.spans):
            if ops is None or s.op in ops:
                out[s.layer] += (s.end - s.start - child[i]) * 1e3
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "op": s.op,
                    "parent": s.parent, "start_ms": round((s.start - t0) * 1e3, 3),
                    "end_ms": round((s.end - t0) * 1e3, 3),
                }) + "\n")


@dataclass
class OpRecord:
    op: int
    phase: str  # "warm" or "timed"
    kind: str  # operation type, e.g. "serve"
    group: str  # metric family: "lookup", "scan", "commit", "read", "query"
    latency_ms: float
    ok: bool
    error: str = ""
    traced: bool = False
    counts: dict[str, float] = field(default_factory=dict)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """Highest grid quantile with at least ten samples beyond it."""
    best = TAIL_GRID[0]
    for q in TAIL_GRID:
        if n * (1 - q) >= 10:
            best = q
    return best


def latency_summary(values: list[float]) -> dict[str, Any]:
    q = tail_quantile(len(values))
    return {
        "n": len(values),
        "p50_ms": statistics.median(values),
        "tail_ms": percentile(values, q),
        "tail_pct": q * 100,
    }


def kind_median_p50(records: list[OpRecord]) -> float:
    """Median latency of ``records`` with each op counted at its kind's
    median latency. A mix of a few ops of several kinds leaves the raw
    median between two kinds, where it jumps with the extremes of both;
    here it moves only as the kinds' own medians do."""
    kinds = {r.kind for r in records}
    med = {k: statistics.median(r.latency_ms for r in records if r.kind == k) for k in kinds}
    return statistics.median(med[r.kind] for r in records)


class Bench:
    """One benchmark run: the session, the tracer and the op records."""

    def __init__(self, spark, tracer: Tracer, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.records: list[OpRecord] = []
        self.phase = "warm"
        self._next_op = 0

    def run_op(
        self,
        kind: str,
        group: str,
        action: Callable[[], Any],
        check: Callable[[Any], bool],
        counters: Optional[Callable[[Any], dict]] = None,
    ) -> OpRecord:
        """Time ``action`` (closed loop), then check its result outside
        the timed region. An exception or a failed check is a failed op.
        With tracing on, the op runs in its own Spark job group so its
        jobs, stages and tasks can be counted afterwards."""
        op = self._next_op
        self._next_op += 1
        tr = self.tracer
        tr.op = op
        sc = self.spark.sparkContext
        if tr.enabled:
            sc.setJobGroup(f"perfbench-{op}", kind)
        result, err = None, ""
        t0 = time.perf_counter()
        try:
            with tr.span(kind, "bench"):
                result = action()
        except Exception as e:  # a failed op is counted, never fatal
            err = f"{type(e).__name__}: {e}"[:500]
        lat = (time.perf_counter() - t0) * 1e3
        ok = False
        if not err:
            try:
                ok = bool(check(result))
            except Exception as e:  # a check that raises fails the op
                err = f"check {type(e).__name__}: {e}"[:500]
            if not ok and not err:
                err = "wrong result"
        rec = OpRecord(op, self.phase, kind, group, lat, ok, err, tr.enabled)
        if tr.enabled:
            rec.counts.update(job_counts(sc, f"perfbench-{op}"))
            if counters is not None and not err:
                with tr.span("plans.scan_metrics.totals", "plans"):
                    rec.counts.update(counters(result))
        tr.op = -1
        self.records.append(rec)
        return rec


def job_counts(sc, group: str) -> dict[str, float]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}


def scan_totals(df) -> dict[str, float]:
    """``plans.scan_metrics.totals`` of an already executed frame."""
    from nimble_spark.plans.scan_metrics import totals

    t = totals(df, execute=False)
    return {
        "plans.scan_files": t.get("numFiles", 0),
        "plans.scan_bytes": t.get("filesSize", 0),
        "plans.scan_rows": t.get("numOutputRows", 0),
        "plans.scan_time_ms": t.get("scanTime", 0),
    }


# --- host and process stamps ---------------------------------------------


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


class HostStamp:
    """loadavg, cpus and steal % over the interval since construction."""

    def __init__(self) -> None:
        self.t0 = _cpu_times()
        self.load0 = os.getloadavg()[0]

    def finish(self) -> dict[str, Any]:
        tot, steal = _cpu_times()
        dt = max(tot - self.t0[0], 1)
        return {
            "cpus": len(os.sched_getaffinity(0)),
            "loadavg_1m_start": self.load0,
            "loadavg_1m_end": os.getloadavg()[0],
            "steal_pct": 100.0 * (steal - self.t0[1]) / dt,
        }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], child_pids(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(child_pids(p))
    return out


def peak_rss_mb(jvm_pid: Optional[int]) -> float:
    """Peak resident set of this Python process plus the JVM child."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def dir_files(root: str) -> dict[str, tuple[tuple[int, int], int]]:
    """Relative path -> ((inode, mtime_ns), size) of every regular file
    under ``root``. A rename keeps the first element; new bytes do not."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                s = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = ((s.st_ino, s.st_mtime_ns), s.st_size)
    return out


# --- metric helpers ---------------------------------------------------------


def span_ms_by_op(tracer: Tracer, name: str, ops: set[int]) -> dict[int, float]:
    """Summed duration (ms) of the spans called ``name`` in each op."""
    out: dict[int, float] = {}
    for s in tracer.spans:
        if s.name == name and s.op in ops:
            out[s.op] = out.get(s.op, 0.0) + (s.end - s.start) * 1e3
    return out


def median_span_ms(tracer: Tracer, name: str, records: list[OpRecord]) -> float:
    vals = list(span_ms_by_op(tracer, name, {r.op for r in records}).values())
    return statistics.median(vals) if vals else 0.0


def mean_count(records: list[OpRecord], key: str) -> float:
    vals = [r.counts[key] for r in records if key in r.counts]
    return sum(vals) / len(vals) if vals else 0.0


def group_latency(records: list[OpRecord], groups: set[str]) -> dict[str, Any]:
    vals = [r.latency_ms for r in records if r.group in groups]
    return latency_summary(vals) if vals else {"n": 0, "p50_ms": 0.0, "tail_ms": 0.0, "tail_pct": 0.0}
