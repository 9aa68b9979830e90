"""Layout advisor: recommend write-time layout from an observed
workload — the closing piece of the reference's "optimizer"
(SURVEY §4.1: Nimble's optimization IS write-time encoding/layout
planning; dwio/nimble/velox/LayoutPlanner.cpp decides order,
EncodingSelectionPolicy decides encodings). The encoding half is
covered by sources/encoding_policy.py; this module covers the layout
half: WHICH columns deserve cluster ranges, hash buckets, Hive
partitions, or blooms, decided from how queries actually touch them.

Evidence comes from each workload query's OPTIMIZED logical plan:
Filter nodes yield (column, predicate-shape) pairs — range
(< <= > >=), point (= / IN) — and Join nodes yield join keys. Rules:

- range-filtered columns → ``cluster_by`` (manifest min/max pruning
  serves ranges; pick the most-evidenced column);
- point-filtered columns → low NDV-fraction → ``partition_by`` (a
  directory per value is the cheapest skip), high NDV → ``bloom``
  (+ ``bucket_by`` when the same column also joins);
- join-key columns → ``bucket_by`` candidates (co-located joins).

The advisor reads plans and one bounded NDV aggregate per candidate
column — it never scans workload data.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_ATTR = r"(\w+)#\d+L?"
_RANGE_RE = re.compile(rf"{_ATTR}\s*(?:>=|<=|>|<)\s")
_POINT_RE = re.compile(rf"{_ATTR}\s*(?:=\s|IN\s*\()")
_JOIN_RE = re.compile(rf"Join\s+\w+,\s*\({_ATTR}\s*=\s*{_ATTR}")

# partition_by only pays when a directory per value stays coarse
_PARTITION_MAX_NDV = 1000


@dataclass
class Recommendation:
    option: str  # cluster_by | partition_by | bucket_by | bloom_cols
    column: str
    evidence: int
    reason: str


def _plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def observe(workload: list[DataFrame]) -> dict[str, Counter]:
    """Count per-column predicate shapes across the workload's
    optimized plans."""
    ev = {"range": Counter(), "point": Counter(), "join": Counter()}
    for df in workload:
        txt = _plan_text(df)
        for ln in txt.splitlines():
            s = ln.strip().lstrip("+-: ")
            if s.startswith("Filter"):
                for m in _RANGE_RE.finditer(s):
                    ev["range"][m.group(1)] += 1
                for m in _POINT_RE.finditer(s):
                    ev["point"][m.group(1)] += 1
            elif s.startswith("Join"):
                for m in _JOIN_RE.finditer(s):
                    ev["join"][m.group(1)] += 1
                    ev["join"][m.group(2)] += 1
    return ev


def advise_layout(
    spark: SparkSession, table: DataFrame, workload: list[DataFrame]
) -> list[Recommendation]:
    """Recommendations for storing ``table``, from the plan evidence
    of ``workload`` restricted to this table's columns. NDV fractions
    come from one bounded aggregate row over the candidate columns."""
    from pyspark.sql import functions as F

    cols = set(table.columns)
    ev = observe(workload)
    recs: list[Recommendation] = []

    ranged = [(c, n) for c, n in ev["range"].most_common() if c in cols]
    if ranged:
        c, n = ranged[0]
        recs.append(
            Recommendation(
                "cluster_by", c, n,
                f"{n} range predicate(s): manifest min/max pruning serves ranges",
            )
        )

    pointed = [(c, n) for c, n in ev["point"].most_common() if c in cols]
    if pointed:
        # one bounded agg row for every point-filtered candidate
        aggs = [F.approx_count_distinct(c).alias(c) for c, _ in pointed]
        ndv = table.agg(*aggs).first().asDict()
        for c, n in pointed:
            if ev["join"].get(c):
                # a join key beats the NDV rule: Hive directories can
                # skip files but cannot co-locate a join — buckets do
                recs.append(
                    Recommendation(
                        "bucket_by", c, n + ev["join"][c],
                        f"{n} point predicate(s) and {ev['join'][c]} equi-join use(s): "
                        "co-located buckets serve both",
                    )
                )
            elif ndv[c] <= _PARTITION_MAX_NDV:
                recs.append(
                    Recommendation(
                        "partition_by", c, n,
                        f"{n} point predicate(s), NDV≈{ndv[c]} ≤ {_PARTITION_MAX_NDV}: "
                        "directory-per-value is the cheapest skip",
                    )
                )
            else:
                recs.append(
                    Recommendation(
                        "bloom_cols", c, n,
                        f"{n} point predicate(s), NDV≈{ndv[c]}: footer blooms "
                        "veto files without a directory per value",
                    )
                )

    for c, n in ev["join"].most_common():
        if c in cols and not any(r.column == c for r in recs):
            recs.append(
                Recommendation(
                    "bucket_by", c, n,
                    f"{n} equi-join use(s): bucketed layout co-locates the join",
                )
            )
    return recs
