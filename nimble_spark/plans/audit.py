"""Physical-plan audit — the scale-posture gate.

The reference's performance story is storage-side (encoding selection,
data skipping); ours is plan-side: every operator must compile to a
Spark physical plan that survives a 1000-executor / 100 TB scale-up.
This module turns `.explain` from a debugging aid into an assertable
contract:

- `audit(df)` executes the plan (so AQE finalizes) and extracts the
  properties that matter at scale: shuffle count, broadcast joins,
  sort-merge joins, cartesian/nested-loop products, partial (map-side)
  aggregation, parquet filter pushdown, whole-stage-codegen spans.
- `assert_posture(df, ...)` fails loudly when a plan regresses (a
  broadcast silently flipping to SMJ, a new shuffle, a filter that
  stopped pushing down) — wired into tests/test_plan_audit.py.
- `harness/audit_plans.py` regenerates the SCALE.md table from it.

Counting note: `n_shuffles` counts shuffle *operators* in the final
adaptive plan (`Exchange hash/range/rebalance`), i.e. distinct
repartitionings of the data, not stage-materialization reuses.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, execute: bool = True) -> str:
    """The executed physical plan as text. With ``execute=True`` the
    query runs first so AQE's *final* plan (real join strategies,
    coalesced partitions) is what gets audited — the pre-execution
    plan can legitimately differ (that's AQE working)."""
    if execute:
        # collect() (not count()) — count() compiles a *different* plan;
        # collect() runs this DataFrame's own QueryExecution, so the
        # subsequent explain shows AQE's final plan (isFinalPlan=true,
        # ReusedExchange nodes, whole-stage-codegen span markers).
        df.collect()
    # df.explain prints; capture it (portable across PySpark versions,
    # unlike the JVM QueryExecution.explainString signature).
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


@dataclass
class PlanAudit:
    n_shuffles: int = 0
    n_broadcast_joins: int = 0
    n_broadcast_exchanges: int = 0
    n_sort_merge_joins: int = 0
    n_shuffled_hash_joins: int = 0
    n_cartesian: int = 0  # CartesianProduct + BroadcastNestedLoopJoin w/o condition
    n_bnl_joins: int = 0
    has_partial_agg: bool = False
    has_pushed_filters: bool = False
    n_codegen_spans: int = 0
    n_python_evals: int = 0  # ArrowEvalPython / BatchEvalPython / FlatMapGroupsIn{Pandas,Arrow} / ...
    plan: str = field(default="", repr=False)


_SHUFFLE_RE = re.compile(r"Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)")
_CODEGEN_RE = re.compile(r"\*\((\d+)\)")


def audit(df: DataFrame, execute: bool = True) -> PlanAudit:
    full = plan_string(df, execute=execute)
    # An executed AdaptiveSparkPlan explain prints "== Final Plan ==" followed
    # by "== Initial Plan ==" — count operators in the final section only.
    p = full.split("== Initial Plan ==")[0]
    a = PlanAudit(plan=full)
    a.n_shuffles = len(_SHUFFLE_RE.findall(p))
    a.n_broadcast_joins = p.count("BroadcastHashJoin")
    a.n_broadcast_exchanges = p.count("BroadcastExchange")
    a.n_sort_merge_joins = p.count("SortMergeJoin")
    a.n_shuffled_hash_joins = p.count("ShuffledHashJoin")
    a.n_cartesian = p.count("CartesianProduct")
    a.n_bnl_joins = p.count("BroadcastNestedLoopJoin")
    # partial_<fn>( markers appear in HashAggregate(..., functions=[partial_sum(...)])
    a.has_partial_agg = "partial_" in p
    # PushedFilters: [] (empty) vs PushedFilters: [IsNotNull(...), ...]
    a.has_pushed_filters = bool(re.search(r"PushedFilters: \[[^\]]+\]", p))
    spans = {int(m) for m in _CODEGEN_RE.findall(p)}
    a.n_codegen_spans = len(spans)
    a.n_python_evals = sum(
        p.count(tok)
        for tok in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                    "FlatMapGroupsInArrow", "MapInPandas", "FlatMapsInPandas",
                    "PythonMapInArrow")
    )
    return a


def assert_posture(
    df: DataFrame,
    *,
    max_shuffles: int | None = None,
    min_broadcast_joins: int = 0,
    require_partial_agg: bool = False,
    require_pushed_filters: bool = False,
    forbid_cartesian: bool = True,
    forbid_python_eval: bool = False,
    execute: bool = True,
) -> PlanAudit:
    """Assert the plan holds the posture its docstring claims. Returns
    the audit so callers can chain further checks."""
    a = audit(df, execute=execute)
    problems: list[str] = []
    if max_shuffles is not None and a.n_shuffles > max_shuffles:
        problems.append(f"shuffles {a.n_shuffles} > {max_shuffles}")
    if a.n_broadcast_joins < min_broadcast_joins:
        problems.append(
            f"broadcast joins {a.n_broadcast_joins} < {min_broadcast_joins}"
        )
    if require_partial_agg and not a.has_partial_agg:
        problems.append("no partial (map-side) aggregation")
    if require_pushed_filters and not a.has_pushed_filters:
        problems.append("no filters pushed to scan")
    if forbid_cartesian and (a.n_cartesian > 0):
        problems.append(f"cartesian product x{a.n_cartesian}")
    if forbid_python_eval and a.n_python_evals > 0:
        problems.append(f"python eval in hot path x{a.n_python_evals}")
    if problems:
        raise AssertionError(
            "plan posture violated: " + "; ".join(problems) + "\n" + a.plan
        )
    return a
