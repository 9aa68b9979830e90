"""Writer low-memory posture (round-4 verdict stretch item; reference
dwio/nimble/writer/VeloxWriterOptions.h:246,328-331 — the writer's
spill/low-memory mode bounds buffered stripe state): a WIDE table
(200 columns) written under a deliberately small driver heap with
``max_rows_per_file`` must succeed, produce bounded files, and
roundtrip — the flush policy (maxRecordsPerFile) is what keeps any
single open file's buffered state small, independent of table width.

Runs in a SUBPROCESS so the capped heap (SPARK_GRAFT_DRIVER_MEM) binds
a fresh JVM, not the suite's shared 8g session.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

_SCRIPT = r"""
import sys, shutil
from nimble_spark import get_spark
from nimble_spark.sources.table import WriteOptions, read_manifest, read_table, write_table
import pyspark.sql.functions as F
import pytest

# Long-running fuzz/soak/drill tier: excluded from the driver-window
# default run (pytest.ini addopts); the FULL suite (-m "") remains the
# builder's round-exit gate.
pytestmark = pytest.mark.slow

path = sys.argv[1]
spark = get_spark("bounded_writer")
n_cols, n_rows, per_file = 200, 50_000, 8_000
df = spark.range(n_rows).select(
    F.col("id").alias("k"),
    *[(F.col("id") * (i + 1)).cast("long").alias(f"c{i:03d}") for i in range(n_cols - 1)],
)
m = write_table(df, path, WriteOptions(max_rows_per_file=per_file))
assert m["rows"] == n_rows, m["rows"]
assert all(f["rows"] <= per_file for f in m["files"]), [f["rows"] for f in m["files"]]
assert len(m["files"]) >= n_rows // per_file
ws = m["write_stats"]
assert 0 < ws["max_file_rows"] <= per_file
back = read_table(spark, path)
assert back.count() == n_rows
row = back.filter("k = 12345").select("c007").first()
assert row["c007"] == 12345 * 8, row
print("BOUNDED_WRITE_OK", len(m["files"]))
"""


def test_wide_table_write_under_capped_heap():
    d = tempfile.mkdtemp(prefix="nimble_bounded_")
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="640m",  # vs the suite's 8g
        SPARK_GRAFT_CPUS="4",
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", _SCRIPT, f"{d}/wide"],
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        assert "BOUNDED_WRITE_OK" in out.stdout
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
