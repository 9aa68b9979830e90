"""The Python worker daemon (nimble_spark/worker_daemon.py): workers
fork from a daemon whose zipimporters re-read an archive's directory
only when the archive changed, so the import-cache reset that starts
every Python task stops re-reading pyspark.zip and the Spark jar on
CPython < 3.12. The zip checks run in a subprocess, so the guard never
patches this test process."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 re-reads zip directories lazily itself"
)

# Imports a module from a zip, installs the guard, counts directory
# reads over three unchanged invalidations, then rewrites the archive
# in place (same path, same inode, new size) and imports it again.
_SCRIPT = r"""
import importlib, os, sys, tempfile, zipfile, zipimport

sys.path.insert(0, sys.argv[1])
from nimble_spark.worker_daemon import guard_zip_rereads

archive = os.path.join(tempfile.mkdtemp(prefix="nimble_zip_"), "mods.zip")


def write(value):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod.py", f"V = {value!r}\n")


write(1)
sys.path.insert(0, archive)
import zmod

assert zmod.V == 1
guard_zip_rereads()
reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or real(a)
for _ in range(3):
    importlib.invalidate_caches()
print("UNCHANGED", reads.count(archive))
write("rewritten")
importlib.invalidate_caches()
del sys.modules["zmod"]
import zmod

print("REWRITTEN", zmod.V, reads.count(archive))
"""


@pytest.fixture(scope="module")
def zip_run():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _ROOT], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


@needs_guard
def test_python_workers_run_the_guarded_invalidation(spark):
    def which(rows):
        import zipimport

        for _ in rows:
            yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(which).collect()
    assert got == ["nimble_spark.worker_daemon"]


@needs_guard
def test_unchanged_archive_is_not_reread(zip_run):
    assert "UNCHANGED 0" in zip_run, zip_run


@needs_guard
def test_rewritten_archive_is_picked_up(zip_run):
    assert "REWRITTEN rewritten 1" in zip_run, zip_run
