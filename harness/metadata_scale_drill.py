"""Metadata-scale drill: the 100 TB file-count regime, measured.

A 100 TB table at ~256 MB/file is ~400k files; at 100 MB/file it
crosses 10⁶. Correctness of the sharded manifest is pinned at 10⁴ in
tests/test_sharded_manifest.py — this drill measures the COST CURVES
at the real regime, on synthetic (but shape-exact) manifest entries,
exercising the production code paths end-to-end:

  * publish: `_write_manifest` page sharding wall time, page count,
    root size (root must stay KB-sized at any N);
  * root-only open: `read_manifest(materialize=False)` — what every
    pruned scan pays before page skipping starts;
  * point prune: `_prune_entries` on the root manifest — pages LOADED
    must be O(1) (folded page bounds skip the rest unread);
  * 1% range prune: pages loaded ∝ selectivity, not N;
  * append of 1k entries: O(new) publish — zero prior-page reads
    (content-hash reuse), wall time flat in N;
  * full metadata fold: materialized `fast_count`/`fast_sum` — the
    statistics-answered aggregate arithmetic at N synopses (O(N) but
    metadata-only; this is the number that says "a million-file SUM
    answers in seconds with zero data IO").

Reference analogue: paged stripe-group metadata — locate without
parsing everything (tablet/Footer.fbs:26-85; SelectiveNimbleReader
opens only the stripes the filter admits).

Usage:
    python harness/metadata_scale_drill.py [--n 400000] [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import nimble_spark.sources.table as tbl

ROWS_PER_FILE = 250_000  # ~256 MB of ~1 KB rows


def _entry(i: int) -> dict:
    lo, hi = i * 1000, i * 1000 + 999
    return {
        "path": f"data/part-{i:07d}.parquet",
        "rows": ROWS_PER_FILE,
        "row_groups": 1,
        "bytes": 256 * 1024 * 1024,
        "sha256": f"{i:064x}",
        "min": {"k": lo},
        "max": {"k": hi},
        "nulls": {"k": 0},
        "sums": {"k": (lo + hi) * 1000 // 2},
        "rg_bytes": [256 * 1024 * 1024],
        "rg_rows": [ROWS_PER_FILE],
    }


class PageCounter:
    """Counts _load_page calls without caching interference."""

    def __init__(self, clear: bool = True):
        self.loads: list[str] = []
        self._real = tbl._load_page
        self._clear = clear

    def __enter__(self):
        if self._clear:
            tbl._PAGE_CACHE.clear()

        def counting(meta_dir, rel):
            self.loads.append(rel)
            return self._real(meta_dir, rel)

        tbl._load_page = counting
        return self

    def __exit__(self, *exc):
        tbl._load_page = self._real


def run_drill(n: int, workdir: str) -> dict:
    path = os.path.join(workdir, f"drill_{n}")
    os.makedirs(os.path.join(path, tbl.MANIFEST_DIR), exist_ok=True)
    out: dict = {"n_files": n, "rows": n * ROWS_PER_FILE,
                 "logical_tb": round(n * 256 / 1024 / 1024, 1)}

    files = [_entry(i) for i in range(n)]
    manifest = {
        "rows": n * ROWS_PER_FILE,
        "files": files,
        "commits": [],
        "indexes": {"cluster": {"keys": ["k"]}},
        "sum_columns": ["k"],
        "schema": {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        },
    }

    t0 = time.time()
    tbl._write_manifest(path, manifest)
    out["publish_s"] = round(time.time() - t0, 2)
    root_file = os.path.join(path, tbl.MANIFEST_DIR, tbl.MANIFEST_NAME)
    out["root_bytes"] = os.path.getsize(root_file)
    with open(root_file) as fh:
        out["n_pages"] = len(json.load(fh)["file_pages"])

    # root-only open (the fixed cost of every pruned scan)
    tbl._MANIFEST_CACHE.clear()
    t0 = time.time()
    root = tbl.read_manifest(path, materialize=False)
    out["root_open_s"] = round(time.time() - t0, 4)

    # point prune: one key → one page load
    probe = (n // 2) * 1000 + 17
    with PageCounter() as pc:
        t0 = time.time()
        keep = tbl._prune_entries(root, path, [("k", "eq", probe)])
        out["point_prune_s"] = round(time.time() - t0, 4)
    out["point_pages_loaded"] = len(pc.loads)
    out["point_files_kept"] = len(keep)

    # 1% range prune: pages ∝ selectivity
    lo = (n // 4) * 1000
    hi = lo + max(n // 100, 1) * 1000 - 1
    with PageCounter() as pc:
        t0 = time.time()
        keep = tbl._prune_entries(root, path, [("k", "ge", lo), ("k", "le", hi)])
        out["range1pct_prune_s"] = round(time.time() - t0, 4)
    out["range1pct_pages_loaded"] = len(pc.loads)
    out["range1pct_files_kept"] = len(keep)

    # append 1k entries, modeled as write_table does it: read_manifest
    # materializes (pages → cache → the SAME entry objects land in
    # m["files"]), the appender extends that list, publish re-proves
    # prior-page reuse by the identity tier — O(new) CPU, zero page
    # re-reads, zero re-serialization of the prior entries. The
    # materialize cost is charged separately (append1k_read_s): it is
    # the once-per-commit metadata read a real append already pays.
    tbl._MANIFEST_CACHE.clear()
    tbl._PAGE_CACHE.clear()
    t0 = time.time()
    m1 = tbl.read_manifest(path)
    out["append1k_read_s"] = round(time.time() - t0, 2)
    appended = m1["files"] + [_entry(i) for i in range(n, n + 1000)]
    manifest2 = dict(manifest, files=appended, rows=(n + 1000) * ROWS_PER_FILE)
    with PageCounter(clear=False) as pc:  # warm cache IS the real state
        t0 = time.time()
        tbl._write_manifest(path, manifest2)
        out["append1k_s"] = round(time.time() - t0, 2)
    out["append1k_prior_page_loads"] = len(pc.loads)

    # statistics-answered aggregates at N files. Root-only paths
    # (count, minmax, range-count on aligned bounds) must load ZERO or
    # O(selectivity) pages; whole-table SUM folds every synopsis —
    # O(N) but metadata-only. Caches cleared per measurement: these
    # are COLD costs (a fresh executor/session hitting the table).
    from nimble_spark.sources.compaction import fast_count, fast_minmax, fast_sum

    tbl._MANIFEST_CACHE.clear()
    with PageCounter() as pc:
        t0 = time.time()
        cnt = fast_count(None, path)  # unfiltered: root arithmetic only
        out["fast_count_s"] = round(time.time() - t0, 4)
    out["fast_count_pages_loaded"] = len(pc.loads)
    assert cnt == (n + 1000) * ROWS_PER_FILE, cnt

    # file-aligned 1% range: every admitted file wholly inside → no
    # boundary scan, pages ∝ selectivity (spark never consulted)
    rlo, rhi = 0, max(n // 100, 1) * 1000 - 1
    tbl._MANIFEST_CACHE.clear()
    with PageCounter() as pc:
        t0 = time.time()
        rcnt = fast_count(None, path, ("k", rlo, rhi))
        out["fast_count_range1pct_s"] = round(time.time() - t0, 4)
    out["fast_count_range1pct_pages_loaded"] = len(pc.loads)
    assert rcnt == max(n // 100, 1) * ROWS_PER_FILE, rcnt

    tbl._MANIFEST_CACHE.clear()
    with PageCounter() as pc:
        t0 = time.time()
        mn, mx = fast_minmax(None, path, "k")
        out["fast_minmax_s"] = round(time.time() - t0, 4)
    out["fast_minmax_pages_loaded"] = len(pc.loads)
    assert mn == 0 and mx == (n + 1000) * 1000 - 1, (mn, mx)

    tbl._MANIFEST_CACHE.clear()
    tbl._PAGE_CACHE.clear()
    t0 = time.time()
    s = fast_sum(path, "k")
    out["fast_sum_s"] = round(time.time() - t0, 2)
    expect = sum(e["sums"]["k"] for e in appended)
    assert s["sum"] == expect, (s, expect)

    shutil.rmtree(path, ignore_errors=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=400_000)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()
    workdir = tempfile.mkdtemp(prefix="nimble_meta_drill_")
    try:
        out = run_drill(args.n, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out) if args.json else json.dumps(out, indent=2))
    # the scale invariants, asserted at any N
    ok = (
        out["root_bytes"] < 512 * 1024
        and out["point_pages_loaded"] <= 2
        and out["append1k_prior_page_loads"] == 0
        and out["range1pct_pages_loaded"] <= out["n_pages"] // 50 + 2
        and out["fast_count_pages_loaded"] == 0
        and out["fast_minmax_pages_loaded"] == 0
        and out["fast_count_range1pct_pages_loaded"] <= out["n_pages"] // 50 + 2
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
