"""Lock-free CAS (compare-and-swap) manifest publishes — r9.

``MetadataFS.write_if_version`` is the store conditional PUT
(S3 ``If-Match`` / GCS ``if-generation-match``) behind one seam
method; ``table.cas_mutate_root`` is the optimistic-retry commit loop
over it, and ``tag_commit(..., optimistic=True)`` is the first
root-only mutation riding it. The property drilled here is the one
the lease lock on a plain object store CANNOT give: concurrent
writers NEVER lose each other's updates, with no lock object at all.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import threading

import pytest

from nimble_spark.sources.fs import LocalFS, ObjectStoreSimFS
from nimble_spark.sources.fs_fsspec import (
    FsspecFS,
    _MiniLocalFsspec,
    _MiniMemoryFsspec,
)
from nimble_spark.sources.table import (
    WriteOptions,
    cas_mutate_root,
    delete_tag,
    read_manifest,
    read_table,
    tag_commit,
    write_table,
)

# Spawned children import the package from this checkout.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fs_variants(tmp_path):
    return [
        ("local", LocalFS(), str(tmp_path / "l")),
        ("objectstore_sim", ObjectStoreSimFS(), str(tmp_path / "o")),
        ("fsspec_mini", FsspecFS(_MiniLocalFsspec()), str(tmp_path / "f")),
        ("fsspec_memory", FsspecFS(_MiniMemoryFsspec()), "bucket/cas"),
    ]


def test_write_if_version_semantics(tmp_path):
    """Create-if-absent, version-matched swap, stale-version refusal —
    identical semantics on every CAS-capable FS."""
    for name, fs, base in _fs_variants(tmp_path):
        assert fs.supports_cas_publish, name
        p = f"{base}/root.json"
        fs.makedirs(base)
        # expected_version=None: conditional CREATE
        assert fs.write_if_version(p, b"v1", None) is True, name
        assert fs.write_if_version(p, b"v1b", None) is False, name
        assert fs.read_bytes(p) == b"v1"
        v1 = fs.version(p)
        # matched swap wins; the token then moves
        assert fs.write_if_version(p, b"v2--", v1) is True, name
        assert fs.read_bytes(p) == b"v2--"
        # stale token refuses and leaves content alone
        assert fs.write_if_version(p, b"v3", v1) is False, name
        assert fs.read_bytes(p) == b"v2--"


def test_lease_only_backend_has_no_cas():
    class _LeaseOnly(_MiniLocalFsspec):
        put_if_absent = None
        put_if_match = None

    fs = FsspecFS(_LeaseOnly())
    assert not fs.supports_cas_publish
    with pytest.raises(NotImplementedError):
        fs.write_if_version("/tmp/x", b"d", None)


def test_optimistic_tag_publish_and_read(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark.range(0, 30).selectExpr("id AS k"), path, WriteOptions())
    write_table(
        spark.range(30, 50).selectExpr("id AS k"), path, WriteOptions(),
        mode="append",
    )
    tag_commit(path, "v0", commit=0, optimistic=True)
    tag_commit(path, "head", optimistic=True)
    assert read_table(spark, path, as_of_tag="v0").count() == 30
    assert read_table(spark, path, as_of_tag="head").count() == 50
    with pytest.raises(ValueError, match="already points"):
        tag_commit(path, "v0", optimistic=True)
    delete_tag(path, "v0", optimistic=True)
    assert "v0" not in read_manifest(path).get("tags", {})
    # sharded-root fields untouched / files preserved byte-for-byte
    assert read_table(spark, path).count() == 50


def test_cas_mutate_root_refuses_without_capability(spark, tmp_path):
    from nimble_spark.sources.fs import set_fs

    class NoCas(LocalFS):
        supports_cas_publish = False

    path = str(tmp_path / "t")
    write_table(spark.range(5).selectExpr("id AS k"), path, WriteOptions())
    prev = set_fs(NoCas())
    try:
        with pytest.raises(ValueError, match="CAS"):
            tag_commit(path, "x", optimistic=True)
    finally:
        set_fs(prev)


def test_cas_counter_threads_lossless():
    """The optimistic-retry loop over the MEMORY double: 8 threads x
    25 CAS increments of a JSON counter lose no update — conditional
    PUT is the only coordination."""
    fs = FsspecFS(_MiniMemoryFsspec())
    p = "bucket/counter.json"
    fs.write_atomic(p, b'{"n": 0}')

    def bump():
        for _ in range(25):
            while True:
                ver = fs.version(p)
                n = json.loads(fs.read_bytes(p))["n"]
                if fs.write_if_version(p, json.dumps({"n": n + 1}).encode(), ver):
                    break

    threads = [threading.Thread(target=bump) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert json.loads(fs.read_bytes(p))["n"] == 8 * 25


def _tag_proc(path: str, i: int) -> None:
    import sys

    sys.path.insert(0, ROOT)
    from nimble_spark.sources.table import tag_commit

    for j in range(5):
        tag_commit(path, f"p{i}_t{j}", commit=0, optimistic=True)


def test_concurrent_optimistic_taggers_across_processes(spark, tmpdir):
    """6 processes x 5 optimistic tags on ONE table, no lock taken:
    every tag survives. This is the lossless multi-writer property the
    plain-object-store lease lock cannot provide and the conditional
    PUT can."""
    path = f"{tmpdir}/cas_tags"
    write_table(spark.range(10).selectExpr("id AS k"), path, WriteOptions())
    ctx = mp.get_context("spawn")
    procs = [ctx.Process(target=_tag_proc, args=(path, i)) for i in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=300)
        assert p.exitcode == 0
    tags = read_manifest(path).get("tags", {})
    want = {f"p{i}_t{j}" for i in range(6) for j in range(5)}
    assert want <= set(tags), sorted(want - set(tags))
    assert all(tags[t] == 0 for t in want)
    # the CAS sidecar lockfile is litter-bounded (one per root)
    meta = os.path.join(path, "_nimble")
    assert sum(1 for n in os.listdir(meta) if n.endswith(".__cas.lock")) <= 1
