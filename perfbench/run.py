"""Closed-loop benchmark of nimble_spark: one client, one process.

    python3 perfbench/run.py --workload serve_scan --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads: serve_scan, ingest_maintain,
pipeline_queries (see each module's docstring). The run

1. generates the workload's corpus (fixed seed) into a run-private
   directory under ``perfbench/`` that is removed at exit; ``--seed``
   drives the operations: their order, keys and submitted rows;
2. sets up: starts the session, writes the workload's tables, computes
   the oracle's expected results and warms up with ``WARM_ROUNDS``
   rounds of the workload's warm-up (every operation type at least once);
   all of it is ``setup_s``;
3. runs whole cycles of the workload until ``--seconds`` have passed (at
   least one cycle; each workload sizes its cycle to outlast the run
   length, so every run times the same mix of operations), checking
   every operation's output against the oracle outside the timed region;
4. prints a report, then as its last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced cycles, records a span around every call into a
layer, writes the spans under ``perfbench/results/`` and reports the
per-layer metrics, with the tracing overhead measured against the
untraced cycles of the same run. ``--corrupt`` (used by ``selftest.py``)
checks every timed operation against a deliberately wrong expectation.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_scan", "ingest_maintain", "pipeline_queries")
# local[2] leaves the other cores of a 4-core host to the client, the JVM's
# JIT and GC threads and the Python workers, so that a run measures the
# program rather than the scheduler; at these sizes local[4] is no faster.
MAX_CPUS = 2
# The corpus is fixed, as a test corpus is; --seed drives each workload's
# operation order, keys and submitted rows.
CORPUS_SEED = 42
DRIVER_MEM = "2g"
# The first round of calls runs 2-4x slower than later ones, and the
# second still about 15% slower, more on a busy host: two rounds put the
# timed cycles past the JVM's warm-up, so they read alike.
WARM_ROUNDS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: check every op against a deliberately wrong expectation")
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> int:
    """Pin parallelism and keep every file the run makes in ``run_dir``;
    give Python workers the package path. Returns the core count."""
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell")
    return cpus


def start_session(tracer):
    from nimble_spark.session import get_spark

    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting reaping is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[-1].split()[0] != "Z"
    except OSError:
        return False


def stop_everything(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (the JVM and the Python workers it forked)."""
    from core import descendants

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def common_layer_metrics(b, traced, untraced, session_start_s, warmup_s) -> dict:
    from core import mean_count

    tr = b.tracer
    ops = {r.op for r in traced}
    n = max(len(traced), 1)
    out = {
        "session.start_s": session_start_s,
        "warmup_s": warmup_s,
        "trace.spans_per_op": sum(1 for s in tr.spans if s.op in ops) / n,
    }
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "plans.scan_files",
                "plans.scan_bytes", "plans.scan_rows", "plans.scan_time_ms"):
        out[key] = mean_count(traced, key)
    for layer, ms in tr.self_ms(ops).items():
        out[f"self_ms.{layer}"] = ms / n
    if traced and untraced:
        out["trace.overhead_ms"] = (
            statistics.median(r.latency_ms for r in traced)
            - statistics.median(r.latency_ms for r in untraced))
    return out


def run(args, run_dir: str, cpus: int) -> dict:
    import core
    import corpus
    from metrics import END_TO_END, PER_LAYER

    wl = importlib.import_module(args.workload)
    host = core.HostStamp()
    corpus_dir = os.path.join(run_dir, "corpus")
    t0 = time.perf_counter()
    rows = corpus.generate(corpus_dir, CORPUS_SEED, wl.SF, wl.CORPUS_TABLES)
    if hasattr(wl, "prepare"):
        wl.prepare(corpus_dir, CORPUS_SEED)
    corpus_s = time.perf_counter() - t0

    tracer = core.Tracer()
    tracer.enabled = bool(args.trace)
    b = core.Bench(None, tracer, args.seed)
    t0 = time.perf_counter()
    b.spark = start_session(tracer)
    session_start_s = time.perf_counter() - t0
    st = wl.setup(b, corpus_dir, os.path.join(run_dir, "tables"))
    t1 = time.perf_counter()
    for _ in range(WARM_ROUNDS):
        wl.warm(b, st)
    warmup_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0
    jpid = jvm_pid()

    b.phase = "timed"
    t0 = time.perf_counter()
    cycle_s = []
    # whole cycles only; a traced run needs a traced and an untraced one
    while time.perf_counter() - t0 < args.seconds or len(cycle_s) < 1 + args.trace:
        tracer.enabled = bool(args.trace) and len(cycle_s) % 2 == 0
        t1 = time.perf_counter()
        wl.cycle(b, st, args.corrupt)
        cycle_s.append(time.perf_counter() - t1)
    elapsed = time.perf_counter() - t0
    tracer.enabled = False

    timed = [r for r in b.records if r.phase == "timed"]
    untraced = [r for r in timed if not r.traced]
    traced = [r for r in timed if r.traced]
    failed = [r for r in b.records if not r.ok]
    lat = core.latency_summary([r.latency_ms for r in untraced])
    e2e = {
        "setup_s": setup_s,
        # busy time only: the benchmark's checks between ops are not the program's
        "ops_per_s": len(timed) / (sum(r.latency_ms for r in timed) / 1e3),
        "op_p50_ms": core.kind_median_p50(untraced),
        "op_tail_ms": lat["tail_ms"],
        "peak_rss_mb": core.peak_rss_mb(jpid),
    }
    extra = wl.workload_metrics(st, untraced) if untraced else {}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "corpus_rows": rows, "corpus_s": corpus_s, "setup_s": setup_s,
        "session_start_s": session_start_s, "warmup_s": warmup_s,
        "cycles": len(cycle_s), "cycle_s": cycle_s, "elapsed_s": elapsed, "ops_timed": len(timed),
        "ops_attempted": len(b.records), "ops_failed": len(failed),
        "failed_frac": len(failed) / max(len(b.records), 1),
        "errors": sorted({f"{r.kind}: {r.error}" for r in failed})[:20],
        "op_latency": lat, "end_to_end": e2e,
        "op_kinds": {k: core.latency_summary([r.latency_ms for r in untraced if r.kind == k])
                     for k in sorted({r.kind for r in untraced})},
        "workload_metrics": {k: {"value": v[0], "unit": v[1], "n": v[2], "stat": v[3]}
                             for k, v in extra.items()},
        "host": host.finish(),
    }
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(common_layer_metrics(b, traced, untraced, session_start_s, warmup_s))
        layer["op_p50_ms"] = e2e["op_p50_ms"]
        layer.update({k: v[0] for k, v in extra.items()})
        layer.update(wl.layer_metrics(b, st, traced))
        report["per_layer"] = layer
        metrics = {k: {"value": float(layer[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": END_TO_END[k][0]} for k in END_TO_END}
    report["metrics"] = metrics

    res_dir = os.path.join(HERE, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
        report["spans_file"] = os.path.relpath(stem + ".spans.jsonl", ROOT)
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    return report


def print_report(rep: dict) -> None:
    from metrics import END_TO_END

    lat = rep["op_latency"]
    print(f"workload={rep['workload']} seed={rep['seed']} trace={rep['trace']} "
          f"cpus={rep['cpus']} SPARK_GRAFT_CPUS={rep['spark_graft_cpus']} host={rep['host']}")
    print(f"corpus rows={rep['corpus_rows']} corpus_s={rep['corpus_s']:.3f} "
          f"session_start_s={rep['session_start_s']:.3f} warmup_s={rep['warmup_s']:.3f}")
    print(f"cycles={rep['cycles']} ops timed={rep['ops_timed']} "
          f"elapsed_s={rep['elapsed_s']:.3f} failed_frac={rep['failed_frac']:.4f} "
          f"({rep['ops_failed']}/{rep['ops_attempted']} ops)")
    for e in rep["errors"]:
        print(f"  FAILED {e}")
    for k, v in rep["end_to_end"].items():
        note = ""
        if k == "op_p50_ms":
            note = (f" (p50 of n={lat['n']} untraced ops, each at its kind's median; "
                    f"raw p50 {lat['p50_ms']:.1f} ms)")
        elif k == "op_tail_ms":
            note = f" (p{lat['tail_pct']:g} of n={lat['n']} untraced ops)"
        elif k == "setup_s":
            note = " (session start, table writes, oracle, warm-up)"
        elif k == "ops_per_s":
            note = f" ({rep['ops_timed']} ops; one client, busy time only)"
        elif k == "peak_rss_mb":
            note = " (VmHWM of this process + the JVM)"
        print(f"  {k:28s} {v:14.4f} {END_TO_END.get(k, ('ms',))[0]}{note}")
    for k, v in rep["op_kinds"].items():
        print(f"  op {k:25s} p50 {v['p50_ms']:10.1f} ms  n={v['n']}")
    for k, v in rep["workload_metrics"].items():
        print(f"  {k:28s} {v['value']:14.4f} {v['unit']} ({v['stat']} of n={v['n']})")
    if "per_layer" in rep:
        print(f"spans written to {rep['spans_file']}")
        for k, v in rep["per_layer"].items():
            print(f"  {k:40s} {v:14.4f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nimble_spark", "__init__.py")):
        print(f"error: no nimble_spark package beside {HERE}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    run_dir = os.path.join(HERE, f".run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        cpus = pin_environment(run_dir)
        rep = run(args, run_dir, cpus)
    finally:
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            stop_everything(active)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print_report(rep)
    print(json.dumps({
        "correct": rep["ops_failed"] == 0,
        "attempted": rep["ops_attempted"],
        "failed": rep["ops_failed"],
        "metrics": rep["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
