"""Size-aware verify-attach gate (VERDICT r11 #1).

The near-dup verifies attach per-doc payload tables (hashed shingle
sets, embedding vectors) to a quadratic candidate-pair set. Below the
configured size cap the attach broadcasts (fast, map-side); above it
— the 100 TB posture, where the payload side is O(corpus) — it MUST
degrade to a shuffle-hash join instead of OOMing the driver. These
tests force the large branch via the conf and prove (a) the physical
plan actually switches strategy and (b) the results are identical on
both branches, for every operator that uses the attach.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nimble_spark.functions.partitioning import (
    VERIFY_ATTACH_CONF,
    attach_small,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def force_large(spark):
    spark.conf.set(VERIFY_ATTACH_CONF, "0")
    yield
    spark.conf.unset(VERIFY_ATTACH_CONF)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_attach_small_picks_broadcast_below_cap(spark):
    small = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    pairs = spark.range(1000).select(F.col("id"), (F.col("id") % 100).alias("k"))
    joined = pairs.join(attach_small(small.withColumnRenamed("id", "k")), "k")
    assert "BroadcastHashJoin" in _plan(joined)


def test_attach_small_picks_shuffle_above_cap(spark, force_large):
    small = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    pairs = spark.range(1000).select(F.col("id"), (F.col("id") % 100).alias("k"))
    joined = pairs.join(attach_small(small.withColumnRenamed("id", "k")), "k")
    p = _plan(joined)
    assert "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p


def test_attach_small_malformed_cap_raises(spark):
    """A cap that is not an integer byte count ('256m') raises
    instead of silently falling back to the default."""
    small = spark.range(100).withColumnRenamed("id", "k")
    spark.conf.set(VERIFY_ATTACH_CONF, "256m")
    try:
        with pytest.raises(ValueError):
            attach_small(small)
    finally:
        spark.conf.unset(VERIFY_ATTACH_CONF)


@pytest.mark.parametrize(
    "qname",
    [
        "q_minhash_lsh_pairs",
        "q_ngram_jaccard_pairs",
        "q_embedding_neardup_lsh",
        "q_incremental_dedup",
    ],
)
def test_large_branch_results_identical(spark, qname):
    """End-to-end: conf=0 (every attach takes the shuffle branch) must
    return exactly the rows the default broadcast branch returns."""
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    fn = QUERIES[qname].fn
    want = sorted(tuple(r) for r in fn(spark, SF).collect())
    spark.conf.set(VERIFY_ATTACH_CONF, "0")
    try:
        got = sorted(tuple(r) for r in fn(spark, SF).collect())
    finally:
        spark.conf.unset(VERIFY_ATTACH_CONF)
    assert got == want
    assert len(want) > 0  # the gate must compare real rows, not two empties
