"""Gate on the Spark 4.1 python-DS planning-cache hazard.

``format("nimble")`` stats pruning is OPT-IN (option("pushdown",
"true") + fresh-load-per-query) ONLY because of an upstream Spark
wrong-answer bug; harness/spark_pushdown_hazard_repro.py pins it with
a minimal nimble-free data source. This test runs that probe
in-process and FAILS LOUDLY the day a Spark upgrade fixes the bug —
the signal that the containment is obsolete and pruning should return
to DEFAULT-ON (reference parity with the always-selective reader,
dwio/nimble/velox/selective/SelectiveNimbleReader.cpp:123)."""

import os
import sys

import pytest

HARNESS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "harness")
sys.path.insert(0, HARNESS)


def test_upstream_hazard_still_present(spark):
    from spark_pushdown_hazard_repro import N_FIRST, N_FULL, probe_hazard

    # the probe's reader classes unpickle on executors: ship the module
    spark.sparkContext.addPyFile(os.path.join(HARNESS, "spark_pushdown_hazard_repro.py"))

    r = probe_hazard(spark)
    # sanity: the probe itself behaves (fresh scans are always correct)
    assert r["full_before"] == N_FULL
    assert r["filtered"] == N_FIRST
    if not r["hazard_present"]:
        pytest.fail(
            f"Spark {r['spark_version']} no longer replays a stale pruned "
            f"python-DS plan on a reused DataFrame — the upstream hazard is "
            f"FIXED. Make format('nimble') stats pruning default-on again: "
            f"return NimblePushdownReader unconditionally in "
            f"NimbleDataSource.reader (sources/datasource.py), drop the "
            f"'pushdown' option gate, retire this test, and close out the "
            f"upstream issue write-up (harness/SPARK_HAZARD_REPORT.md)."
        )
    # while present, the reused-DataFrame count replays the pruned plan
    assert r["full_after"] == N_FIRST
