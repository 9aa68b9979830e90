"""Session set-up: Python workers run the checkout the driver imported.

Spark starts its Python workers in the JVM's working directory with
their own sys.path; a driver that found ``nimble_spark`` through its
own sys.path (a harness script, a test) must still have every Python
stage (mapInPandas, pandas UDFs) import the same package. The check
runs in a subprocess started outside the checkout, with no PYTHONPATH,
so nothing but the session's own set-up can point the workers at it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

# a fresh JVM takes longer than the default tier's per-test budget
pytestmark = pytest.mark.slow

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])
import pandas as pd

from nimble_spark import get_spark

spark = get_spark("worker_pythonpath")


def where(batches):
    import nimble_spark

    for b in batches:
        yield pd.DataFrame({"f": [nimble_spark.__file__] * len(b)})


files = {r["f"] for r in spark.range(4).mapInPandas(where, "f STRING").collect()}
print("WORKER_FILES", sorted(files))
"""


def test_python_workers_import_the_driver_checkout():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    with tempfile.TemporaryDirectory(prefix="nimble_cwd_") as cwd:
        out = subprocess.run(
            [sys.executable, "-c", _SCRIPT, _ROOT],
            env=env,
            cwd=cwd,
            capture_output=True,
            text=True,
            timeout=300,
        )
    assert out.returncode == 0, out.stderr[-3000:]
    want = os.path.join(_ROOT, "nimble_spark", "__init__.py")
    assert f"WORKER_FILES {[want]}" in out.stdout, out.stdout
