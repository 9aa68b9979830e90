"""The planner, not the operator, places broadcast joins.

The near-dup verifies attach per-doc payload tables (hashed shingle
sets, embedding vectors) to a quadratic candidate-pair set, and Q5
joins a chain of dims. None of these joins carries a broadcast hint:
the planner broadcasts a side while its size estimate is under the
session's autoBroadcastJoinThreshold. Past it — the 100 TB posture,
where the payload side is O(corpus) — the join must degrade to a
shuffle join instead of OOMing the driver. With both thresholds at -1
(nothing fits), these tests prove (a) the final plan has no broadcast
hash join left and (b) the rows equal the default-threshold run.
"""

from __future__ import annotations

import pytest

from nimble_spark.plans.audit import audit

SF = "/root/testdata/sf0.001"
THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@pytest.mark.parametrize(
    "qname",
    [
        "q5_local_supplier",
        "q_minhash_lsh_pairs",
        "q_ngram_jaccard_pairs",
        "q_embedding_neardup_lsh",
        "q_incremental_dedup",
    ],
)
def test_large_branch_results_identical(spark, qname):
    """End-to-end: with no side under the broadcast threshold the
    final plan has 0 BroadcastHashJoin and returns exactly the rows
    the default-threshold run returns."""
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    fn = QUERIES[qname].fn
    want = sorted(tuple(r) for r in fn(spark, SF).collect())
    saved = {k: spark.conf.get(k, None) for k in THRESHOLDS}
    for k in THRESHOLDS:
        spark.conf.set(k, "-1")
    try:
        df = fn(spark, SF)
        got = sorted(tuple(r) for r in df.collect())
        a = audit(df, execute=False)  # df ran above: this is AQE's final plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert a.n_broadcast_joins == 0, a.plan
    assert got == want
    assert len(want) > 0  # the gate must compare real rows, not two empties
