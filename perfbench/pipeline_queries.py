"""pipeline_queries: the engine-side pipelines on top of the package.

Eight registry queries spanning relational, dedup, similarity,
sketch, text and pandas-UDF work read the raw sf0.01
parquet corpus through ``tables.load``. One operation is one query run
to completion: the registry callable builds the frame (``operators``),
the executed plan is forced (Spark planning), then the full result is
collected (Spark execution) and compared, outside the timed region,
with the registry's DuckDB oracle by the order-insensitive hash of
``harness/check_correctness.py``. Each cycle runs every query once in a
seeded order. The workload does almost no ``sources`` work.
"""

from __future__ import annotations

import importlib.util
import os
import re
import statistics

import numpy as np

from core import Bench, scan_totals
from metrics import PIPELINE_QUERIES

NAME = "pipeline_queries"
SF = 0.01
CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
            "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
            "AggregateInPandas", "WindowInPandas")
_NODE = re.compile(r"^[\s:+\-*|]*\(?\d*\)?\s*([A-Za-z]+)")


def _hasher():
    """``norm_cell``/``table_hash`` of the repository's correctness gate."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "harness", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


class State:
    def __init__(self, sf_dir, entries, expected, table_hash, rng):
        self.sf_dir = sf_dir
        self.entries = entries
        self.expected = expected  # query -> (rows, sorted lower-case cols, hash)
        self.table_hash = table_hash
        self.rng = rng


def setup(b: Bench, corpus_dir: str, table_dir: str) -> State:
    import duckdb

    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    table_hash = _hasher()
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    expected = {}
    for q in PIPELINE_QUERIES:
        res = con.sql(QUERIES[q].oracle)
        cols = [c.lower() for c in res.columns]
        rows = [tuple(r) for r in res.df().itertuples(index=False, name=None)]
        expected[q] = (len(rows), sorted(cols), table_hash(rows, cols))
    con.close()
    return State(corpus_dir, {q: QUERIES[q] for q in PIPELINE_QUERIES}, expected,
                 table_hash, np.random.default_rng([b.seed, 4]))


def plan_shape(df) -> dict[str, int]:
    """Operator counts of the executed (AQE-final) plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    names = [m.group(1) for m in map(_NODE.match, text.splitlines()) if m]
    return {
        "plan.exchanges": sum(1 for n in names if n.endswith("Exchange")),
        "plan.bhj": names.count("BroadcastHashJoin"),
        "plan.smj": names.count("SortMergeJoin"),
        "plan.py_eval": sum(1 for n in names if n in _PY_EVAL),
    }


def run_query(b: Bench, st: State, q: str, corrupt: bool = False):
    import pandas as pd

    spark, tr = b.spark, b.tracer
    entry = st.entries[q]
    exp_rows, exp_cols, exp_hash = st.expected[q]

    def action():
        with tr.span(f"operators.{q}", "operators"):
            df = entry.fn(spark, st.sf_dir)
        with tr.span("spark.plan", "spark"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec", "spark"):
            raw = [tuple(r) for r in df.collect()]
        return df, raw

    def check(res):
        df, raw = res
        # rows pass through pandas before hashing, as in the correctness gate
        pdf = pd.DataFrame(raw, columns=df.columns)
        rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        cols = [c.lower() for c in df.columns]
        got_hash = st.table_hash(rows, cols)
        if corrupt:
            got_hash = got_hash[::-1]
        return len(rows) == exp_rows and sorted(cols) == exp_cols and got_hash == exp_hash

    def counters(res):
        c = scan_totals(res[0])
        c.update(plan_shape(res[0]))
        return c

    return b.run_op(q, "query", action, check, counters)


def warm(b: Bench, st: State) -> None:
    for q in PIPELINE_QUERIES:
        run_query(b, st, q)


def cycle(b: Bench, st: State, corrupt: bool = False) -> None:
    for q in st.rng.permutation(PIPELINE_QUERIES):
        run_query(b, st, str(q), corrupt)


# --- metrics -----------------------------------------------------------------


def workload_metrics(st: State, records) -> dict:
    return {}


def layer_metrics(b: Bench, st: State, records) -> dict:
    from core import span_ms_by_op

    tr = b.tracer
    out = {}
    totals = {"operators.construct_ms": 0.0, "spark.plan_ms": 0.0, "spark.exec_ms": 0.0,
              "plan.exchanges": 0.0, "plan.bhj": 0.0, "plan.smj": 0.0, "plan.py_eval": 0.0}
    for q in PIPELINE_QUERIES:
        recs = [r for r in records if r.kind == q]
        ops = {r.op for r in recs}
        if not recs:
            continue
        per = {
            "operators.construct_ms": span_ms_by_op(tr, f"operators.{q}", ops),
            "spark.plan_ms": span_ms_by_op(tr, "spark.plan", ops),
            "spark.exec_ms": span_ms_by_op(tr, "spark.exec", ops),
        }
        med = {k: statistics.median(v.values()) if v else 0.0 for k, v in per.items()}
        for k in ("plan.exchanges", "plan.bhj", "plan.smj", "plan.py_eval"):
            med[k] = statistics.median(r.counts.get(k, 0) for r in recs)
        for k, v in med.items():
            totals[k] += v
        out[f"operators.construct_ms.{q}"] = med["operators.construct_ms"]
        out[f"spark.exec_ms.{q}"] = med["spark.exec_ms"]
    out.update(totals)
    return out
