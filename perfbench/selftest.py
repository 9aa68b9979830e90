"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--workloads serve_scan,ingest_maintain,pipeline_queries]

Run from the repository root. Checks, in order:

1. ``BENCHMARK.json`` lists exactly the metrics of ``metrics.py``.
2. Wrong results are caught: each workload runs once with ``--corrupt``,
   which checks every timed operation against a deliberately wrong
   expectation; every one of them must be counted as failed and the
   run must report ``correct: false``.
3. Timed actions execute fully: q_semantic_dedup's collect, the action
   ``pipeline_queries`` times, scans every row of its source table,
   while the same frame under ``count()`` lets Catalyst skip work.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_spec() -> list[str]:
    from metrics import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = []
    got_e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    got_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    if got_e2e != END_TO_END:
        errs.append(f"end_to_end differs: {sorted(set(got_e2e) ^ set(END_TO_END))}")
    if got_layer != PER_LAYER:
        errs.append(f"per_layer differs: {sorted(set(got_layer) ^ set(PER_LAYER))}")
    if {w["name"] for w in spec["workloads"]} != {"serve_scan", "ingest_maintain", "pipeline_queries"}:
        errs.append("workloads differ from run.py's")
    return errs


def check_corrupt(workload: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"{workload} --corrupt exited {proc.returncode}: {proc.stderr[-1500:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    timed = next(int(x.split("=")[1]) for line in proc.stdout.splitlines()
                 for x in line.split() if x.startswith("timed="))
    print(f"{workload} --corrupt: correct={res['correct']} failed={res['failed']} "
          f"attempted={res['attempted']} timed={timed}")
    if res["correct"] or res["failed"] < timed or timed == 0:
        return [f"{workload}: deliberately wrong results were not all counted as failed"]
    return []


def check_full_execution() -> list[str]:
    import run  # noqa: F401  (sets up sys.path for the package)
    from core import Tracer, scan_totals
    from corpus import generate

    run_dir = os.path.join(HERE, f".run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        run.pin_environment(run_dir)
        sf_dir = os.path.join(run_dir, "corpus")
        rows = generate(sf_dir, 7, 0.01, ("embeddings",))["embeddings"]
        spark = run.start_session(Tracer())
        from nimble_spark.registry import QUERIES, _load_all

        _load_all()
        q = QUERIES["q_semantic_dedup"]
        df = q.fn(spark, sf_dir)
        df.collect()
        full = scan_totals(df)["plans.scan_rows"]
        cnt = q.fn(spark, sf_dir).groupBy().count()
        cnt.collect()
        by_count = scan_totals(cnt)["plans.scan_rows"]
        print(f"q_semantic_dedup: source rows={rows} scan_rows collect={full} count()={by_count}")
        errs = []
        if full < rows or full % rows:
            errs.append(f"collect scanned {full} rows, not whole passes over {rows}")
        if by_count >= full:
            errs.append("count() did not skip work; the self-test no longer separates them")
        return errs
    finally:
        run.stop_everything(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="serve_scan,ingest_maintain,pipeline_queries")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    errs = check_spec()
    for w in filter(None, args.workloads.split(",")):
        errs += check_corrupt(w)
    errs += check_full_execution()
    for e in errs:
        print("FAIL", e)
    print("selftest", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
