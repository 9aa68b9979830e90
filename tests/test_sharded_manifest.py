"""Sharded (paged) manifest — the stripe-group metadata paging
analogue (dwio/nimble/tablet/TabletWriter.h:51, tablet/Footer.fbs:
26-85: metadata split so readers never parse the whole thing) and the
Delta-checkpoint / Iceberg manifest-list parallel.

Contract drilled here:
  * >=threshold entries publish as content-addressed page files +
    a small root; read_manifest materializes transparently
  * APPEND metadata cost is O(new files): prior pages are reused by
    reference, byte-identical, never rewritten
  * a 10^4-entry manifest round-trips exactly
  * index / pruning / CDC / time-travel / rollback paths behave
    identically with sharded metadata (threshold forced low)
  * crash-orphaned and unreferenced pages are swept age-gated
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow as pa
import pytest

import nimble_spark.sources.table as tbl
from nimble_spark.sources.serde import serve_lookups
from nimble_spark.sources.table import (
    WriteOptions,
    read_manifest,
    read_table,
    write_table,
)


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="nimble_shard_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _fake_entry(i: int) -> dict:
    return {
        "path": f"part-{i:06d}.parquet",
        "rows": 100 + i,
        "row_groups": 1,
        "bytes": 4096,
        "sha256": f"{i:064x}",
        "min": {"k": i * 100},
        "max": {"k": i * 100 + 99},
        "nulls": {"k": 0},
        "rg_bytes": [4096],
        "rg_rows": [100 + i],
    }


def _mk_root(path: str) -> str:
    meta = os.path.join(path, tbl.MANIFEST_DIR)
    os.makedirs(meta, exist_ok=True)
    return path


def test_ten_k_entries_roundtrip_and_small_root(tmpdir):
    path = _mk_root(f"{tmpdir}/big10k")
    files = [_fake_entry(i) for i in range(10_000)]
    m = {"rows": sum(f["rows"] for f in files), "files": files, "commits": []}
    tbl._write_manifest(path, m)
    root_file = os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)
    with open(root_file) as fh:
        raw = json.load(fh)
    assert "files" not in raw and len(raw["file_pages"]) == 10
    # the root stays metadata-sized regardless of file count
    assert os.path.getsize(root_file) < 64 * 1024
    back = read_manifest(path)
    assert back["files"] == files
    assert back["rows"] == m["rows"]


def test_append_reuses_pages_o_new_files(tmpdir, monkeypatch):
    """The 100 TB property: publishing an appended manifest rewrites
    only the NEW entries' pages — every prior page file is reused by
    reference (same inode content, untouched mtime) — and, for the
    pure-append shape, reuse is proven by CONTENT HASH without even
    READING the prior pages (zero page I/O per commit)."""
    path = _mk_root(f"{tmpdir}/append_reuse")
    files = [_fake_entry(i) for i in range(5_000)]
    tbl._write_manifest(path, {"rows": 1, "files": files, "commits": []})
    pages_dir = os.path.join(path, tbl.MANIFEST_DIR, tbl.PAGE_DIR)
    before = {fn: os.path.getmtime(os.path.join(pages_dir, fn)) for fn in os.listdir(pages_dir)}
    with open(os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)) as fh:
        pages1 = json.load(fh)["file_pages"]

    loads: list[str] = []
    real = tbl._load_page

    def counting(meta_dir, rel):
        loads.append(rel)
        return real(meta_dir, rel)

    monkeypatch.setattr(tbl, "_load_page", counting)
    appended = files + [_fake_entry(i) for i in range(5_000, 5_100)]
    tbl._write_manifest(path, {"rows": 1, "files": appended, "commits": []})
    monkeypatch.setattr(tbl, "_load_page", real)
    assert loads == []  # sha fast path: append verified page reuse read-free
    with open(os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)) as fh:
        pages2 = json.load(fh)["file_pages"]
    # every prior page reused verbatim, in order, untouched on disk
    assert pages2[: len(pages1)] == pages1
    for fn, mt in before.items():
        assert os.path.getmtime(os.path.join(pages_dir, fn)) == mt
    # the new 100 entries fit one new page
    assert len(pages2) == len(pages1) + 1
    assert read_manifest(path)["files"] == appended


def test_shrink_below_threshold_unshards(tmpdir):
    import time as _time

    path = _mk_root(f"{tmpdir}/shrink")
    files = [_fake_entry(i) for i in range(3_000)]
    tbl._write_manifest(path, {"rows": 1, "files": files, "commits": []})
    tbl._write_manifest(path, {"rows": 1, "files": files[:10], "commits": []})
    with open(os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)) as fh:
        raw = json.load(fh)
    assert "file_pages" not in raw and len(raw["files"]) == 10
    assert len(read_manifest(path)["files"]) == 10
    # The sharded incarnation's pages must not leak forever: fresh
    # ones survive the unshard (in-flight reader protection), aged
    # ones sweep on the next publish even though the root is inline.
    pages_dir = os.path.join(path, tbl.MANIFEST_DIR, tbl.PAGE_DIR)
    remaining = os.listdir(pages_dir)
    assert remaining
    old = _time.time() - 2 * tbl.PAGE_SWEEP_AGE_S
    for fn in remaining:
        os.utime(os.path.join(pages_dir, fn), (old, old))
    tbl._write_manifest(path, {"rows": 1, "files": files[:10], "commits": []})
    assert os.listdir(pages_dir) == []


def test_tag_publish_is_root_only_on_sharded(tmpdir, monkeypatch):
    """tag_commit/delete_tag on a sharded manifest are metadata-ROOT
    operations end-to-end: zero page reads, zero page writes, the
    page list republished by reference — O(1) regardless of table
    file count."""
    from nimble_spark.sources.table import delete_tag, tag_commit

    path = _mk_root(f"{tmpdir}/tag_root_only")
    files = [_fake_entry(i) for i in range(3_000)]
    commits = [{"commit": 0, "mode": "overwrite", "rows_added": 1, "files": []}]
    tbl._write_manifest(path, {"rows": 1, "files": files, "commits": commits})
    pages_dir = os.path.join(path, tbl.MANIFEST_DIR, tbl.PAGE_DIR)
    mtimes = {fn: os.path.getmtime(os.path.join(pages_dir, fn)) for fn in os.listdir(pages_dir)}

    tbl._MANIFEST_CACHE.clear()
    tbl._PAGE_CACHE.clear()
    loads: list[str] = []
    real = tbl._load_page

    def counting(meta_dir, rel):
        loads.append(rel)
        return real(meta_dir, rel)

    monkeypatch.setattr(tbl, "_load_page", counting)
    tag_commit(path, "v0")
    delete_tag(path, "v0")
    tag_commit(path, "v1", commit=0)
    assert loads == []  # zero page I/O for three tag edits
    monkeypatch.setattr(tbl, "_load_page", real)

    assert read_manifest(path, materialize=False)["tags"] == {"v1": 0}
    assert read_manifest(path)["files"] == files  # pages intact
    for fn, mt in mtimes.items():
        assert os.path.getmtime(os.path.join(pages_dir, fn)) == mt  # untouched

    # Root-only must hold on a WARM cache too: read_manifest returns
    # the materialized superset there, and tag_commit has to strip it
    # back to the root — repagination must never run for a tag edit.
    read_manifest(path)  # warm the materialized entry
    monkeypatch.setattr(
        tbl,
        "_publish_pages",
        lambda *a, **k: pytest.fail("tag edit repaginated a warm manifest"),
    )
    tag_commit(path, "v2")
    assert read_manifest(path, materialize=False)["tags"] == {"v1": 0, "v2": 0}


def test_orphan_pages_swept_age_gated(tmpdir, monkeypatch):
    path = _mk_root(f"{tmpdir}/sweep")
    files = [_fake_entry(i) for i in range(2_500)]
    tbl._write_manifest(path, {"rows": 1, "files": files, "commits": []})
    pages_dir = os.path.join(path, tbl.MANIFEST_DIR, tbl.PAGE_DIR)
    # plant an orphan (crashed publish debris)
    orphan = os.path.join(pages_dir, "page-deadbeefdeadbeef.json")
    with open(orphan, "w") as fh:
        fh.write("[]")
    # fresh orphan survives (in-flight reader protection) …
    tbl._write_manifest(path, {"rows": 2, "files": files, "commits": []})
    assert os.path.exists(orphan)
    # … an aged one is swept on the next publish
    old = os.path.getmtime(orphan) - 2 * tbl.PAGE_SWEEP_AGE_S
    os.utime(orphan, (old, old))
    tbl._write_manifest(path, {"rows": 3, "files": files, "commits": []})
    assert not os.path.exists(orphan)


def test_point_lookup_skips_disjoint_pages(spark, tmpdir, monkeypatch):
    """The lazy-root property: a cluster point/range lookup (and a
    served lookup batch) on a sharded manifest reads the root + ONLY
    the pages whose folded [min,max] intersect the probe —
    provably-disjoint pages are never opened (the reference's 'locate
    without parsing everything' stripe-group paging,
    tablet/Footer.fbs:26-85)."""
    monkeypatch.setattr(tbl, "SHARD_FILE_THRESHOLD", 4)
    monkeypatch.setattr(tbl, "MANIFEST_PAGE_SIZE", 2)
    path = f"{tmpdir}/page_skip"
    base = spark.range(10_000).selectExpr("id AS k", "id * 3 AS v")
    write_table(base, path, WriteOptions(cluster_by=["k"], n_cluster_files=16))

    tbl._MANIFEST_CACHE.clear()  # force real page I/O accounting
    loads: list[str] = []
    real = tbl._load_page

    def counting(meta_dir, rel):
        loads.append(rel)
        return real(meta_dir, rel)

    monkeypatch.setattr(tbl, "_load_page", counting)
    got = read_table(spark, path, point_lookup=("k", [7]))
    assert [r["k"] for r in got.collect()] == [7]
    # 16 cluster files / 2-entry pages = 8 pages; the probe key lives
    # in exactly one file → exactly one page touched.
    assert len(set(loads)) == 1

    tbl._MANIFEST_CACHE.clear()
    loads.clear()
    got = read_table(spark, path, range_scan=("k", 0, 1300))
    assert got.count() == 1301
    # keys 0..1300 span ceil(1301/625)=3 cluster files → 2 pages.
    assert 1 <= len(set(loads)) <= 2

    # serving reads its hits on the driver from the same pruned entries
    tbl._MANIFEST_CACHE.clear()
    loads.clear()
    batch = pa.table({"request_id": pa.array([1], pa.int64()), "k": pa.array([7], pa.int64())})
    served = serve_lookups(spark, path, batch, "k", ["v"]).collect()
    assert [(r["request_id"], r["n_rows"]) for r in served] == [(1, 1)]
    assert len(set(loads)) == 1


def test_pyds_pushdown_skips_disjoint_pages(spark, tmpdir, monkeypatch):
    """The Python-DataSource scan prunes at page granularity too: a
    pushed filter whose range a page's folded bounds provably exclude
    skips the page read entirely, and the per-file check then runs
    only on the loaded entries. Spark runs the planner in a separate
    Python worker, so the page-I/O accounting drives NimbleReader
    directly (same code path); an end-to-end format('nimble') read
    then confirms identical answers on the sharded table."""
    from pyspark.sql.datasource import EqualTo

    from nimble_spark.sources.datasource import NimblePushdownReader, register_nimble_source

    monkeypatch.setattr(tbl, "SHARD_FILE_THRESHOLD", 4)
    monkeypatch.setattr(tbl, "MANIFEST_PAGE_SIZE", 2)
    path = f"{tmpdir}/pyds_page_skip"
    base = spark.range(10_000).selectExpr("id AS k", "id * 3 AS v")
    write_table(base, path, WriteOptions(cluster_by=["k"], n_cluster_files=16))

    tbl._MANIFEST_CACHE.clear()
    loads: list[str] = []
    real = tbl._load_page

    def counting(meta_dir, rel):
        loads.append(rel)
        return real(meta_dir, rel)

    monkeypatch.setattr(tbl, "_load_page", counting)
    from pyspark.sql.types import StructType

    reader = NimblePushdownReader(
        path, StructType.fromJson(read_manifest(path, materialize=False)["schema"])
    )
    assert loads == []  # root-only construction: zero page I/O
    reader.pushFilters([EqualTo(("k",), 7)])
    kept = reader.partitions()
    assert len(kept) == 1 and len(set(loads)) == 1  # 1 of 8 pages read

    monkeypatch.setattr(tbl, "_load_page", real)
    register_nimble_source(spark)
    got = (
        spark.read.format("nimble")
        .option("path", path)
        .option("pushdown", "true")
        .load()
        .filter("k = 7")
        .collect()
    )
    assert [r["k"] for r in got] == [7]


def test_page_bounds_drop_null_and_missing_keys():
    """A key folds into a page bound only when EVERY entry carries a
    non-None min AND max for it — None (all-null file) or absent
    bounds poison the key, because such files must survive pruning."""
    entries = [_fake_entry(0), _fake_entry(1)]
    entries[1]["min"]["k"] = None  # all-null file for k
    entries[0]["min"]["only0"] = entries[0]["max"]["only0"] = 5
    mins, maxs = tbl._page_bounds(entries)
    assert "k" not in mins and "only0" not in mins
    assert mins == {} and maxs == {}
    ok = [_fake_entry(3), _fake_entry(9)]
    mins, maxs = tbl._page_bounds(ok)
    assert mins == {"k": 300} and maxs == {"k": 999}


def test_end_to_end_sharded_index_cdc_rollback(spark, tmpdir, monkeypatch):
    """Every read path — range pruning, point lookup, CDC, time
    travel, tags, rollback — against a table whose manifest shards
    from the first commit on (threshold forced low)."""
    from nimble_spark.sources.table import (
        read_changes,
        rollback_table,
        tag_commit,
    )

    monkeypatch.setattr(tbl, "SHARD_FILE_THRESHOLD", 4)
    monkeypatch.setattr(tbl, "MANIFEST_PAGE_SIZE", 2)
    path = f"{tmpdir}/e2e_shard"
    base = spark.range(1000).selectExpr("id AS k", "id * 7 AS v")
    write_table(base, path, WriteOptions(cluster_by=["k"], n_cluster_files=8))
    m = read_manifest(path)
    assert len(m["files"]) == 8
    with open(os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)) as fh:
        assert "file_pages" in json.load(fh)

    tag_commit(path, "base")
    extra = spark.range(1000, 1200).selectExpr("id AS k", "id * 7 AS v")
    write_table(extra, path, mode="append")

    # pruned range scan
    got = read_table(spark, path, range_scan=("k", 100, 150))
    assert got.count() == 51
    # point lookup
    got = read_table(spark, path, point_lookup=("k", [5, 1100, 99999]))
    assert sorted(r["k"] for r in got.collect()) == [5, 1100]
    # CDC with provenance
    ch = read_changes(spark, path, since_commit=0, with_commit=True)
    assert ch.count() == 200 and ch.select("_commit").distinct().collect()[0][0] == 1
    # tag read + rollback
    assert read_table(spark, path, as_of_tag="base").count() == 1000
    rollback_table(spark, path, tag="base")
    assert read_table(spark, path).count() == 1000
    assert read_table(spark, path, as_of_commit=1).count() == 1200


def test_stats_folds_are_root_or_page_granular(tmpdir, monkeypatch):
    """Statistics-answered aggregates at sharded-manifest scale (the
    metadata_scale_drill invariants, pinned small): unfiltered
    fast_count and fast_minmax answer from the ROOT alone (zero page
    reads — page bounds fold every column with complete entry stats);
    a file-aligned range count loads only the pages its range
    intersects; whole-table fast_sum is the one O(N)-synopsis fold."""
    from nimble_spark.sources.compaction import fast_count, fast_minmax, fast_sum

    path = _mk_root(f"{tmpdir}/stats_root_folds")
    files = []
    for i in range(5_000):
        e = _fake_entry(i)
        e["min"], e["max"] = {"k": i * 100}, {"k": i * 100 + 99}
        e["sums"] = {"k": i}
        files.append(e)
    m = {
        "rows": sum(f["rows"] for f in files),
        "files": files,
        "commits": [],
        "indexes": {"cluster": {"keys": ["k"]}},
        "sum_columns": ["k"],
        "schema": {
            "type": "struct",
            "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}],
        },
    }
    tbl._write_manifest(path, m)

    loads: list[str] = []
    real = tbl._load_page

    def counting(meta_dir, rel):
        loads.append(rel)
        return real(meta_dir, rel)

    tbl._MANIFEST_CACHE.clear()
    tbl._PAGE_CACHE.clear()
    monkeypatch.setattr(tbl, "_load_page", counting)

    assert fast_count(None, path) == m["rows"]
    assert loads == []  # root arithmetic only

    assert fast_minmax(None, path, "k") == (0, 5_000 * 100 - 1)
    assert loads == []  # page bounds folded at the root

    # file-aligned 2%-of-keyspace range: only intersecting pages load
    n_files = 100
    cnt = fast_count(None, path, ("k", 0, n_files * 100 - 1))
    assert cnt == sum(f["rows"] for f in files[:n_files])
    with open(os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)) as fh:
        n_pages = len(json.load(fh)["file_pages"])
    assert 0 < len(loads) <= max(2, n_pages // 10)

    # whole-table SUM folds every synopsis (O(N) metadata, no data IO)
    loads.clear()
    assert fast_sum(path, "k")["sum"] == sum(range(5_000))
    assert len(loads) == n_pages
    monkeypatch.setattr(tbl, "_load_page", real)
