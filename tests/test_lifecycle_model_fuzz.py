"""Model-based randomized drill of the full table lifecycle.

The reference exercises its writer/reader stack with randomized
end-to-end tests (dwio/nimble/velox/tests/VeloxReaderTests.cpp's
fuzzer-driven write/read/seek loops); the table-format analogue here
is an OPERATION-SEQUENCE fuzz: a seeded random interleaving of every
mutation the format supports — append, upsert merge, update-where,
logical delete, delete compaction, file compaction, vacuum — checked
after EVERY step against a plain Python dict model of the expected
rows, plus snapshot (time travel) reconstruction checks for every
recorded commit before vacuum reclaims history.

Invariants drilled:
  * live view (read_with_deletes) == model at every step
  * manifest `rows` matches the committed (pre-mask) row count
  * as_of_commit snapshots reconstruct every recorded historical
    state, across merges/updates/compactions (trash tombstones), until
    VACUUM trades history for space
  * CDC: read_changes(since=last) is empty after a compaction
    (data_change=false), non-empty after data commits
"""

from __future__ import annotations

import random

import pytest

from nimble_spark.sources.table import (
    WriteOptions,
    read_manifest,
    read_table,
    write_table,
)

# Long-running fuzz/soak/drill tier: excluded from the driver-window
# default run (pytest.ini addopts); the FULL suite (-m "") remains the
# builder's round-exit gate.
pytestmark = pytest.mark.slow


@pytest.fixture(autouse=True)
def _fixed_parallelism(spark):
    """Split file scans and shuffles into 4 partitions whatever the
    session's core count (``_df`` slices its rows into 4 too): every
    write of the drill then makes the same files on every machine, so
    the sharded variants cross their 4-file threshold as they do on 4
    cores."""
    keys = ("spark.sql.leafNodeDefaultParallelism", "spark.sql.shuffle.partitions")
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "4")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _df(spark, rows):
    # 4 slices whatever the core count (see _fixed_parallelism)
    rdd = spark.sparkContext.parallelize([(k, v) for k, v in rows], 4)
    return spark.createDataFrame(rdd, "k LONG, v LONG")


def _live(spark, path) -> dict[int, int]:
    from nimble_spark.sources.deletes import read_with_deletes

    return {r["k"]: r["v"] for r in read_with_deletes(spark, path).collect()}


def _raw(spark, path) -> dict[int, int]:
    return {r["k"]: r["v"] for r in read_table(spark, path).collect()}


@pytest.mark.parametrize("seed", [11, 42, 2026])
def test_lifecycle_model(spark, tmpdir, seed):
    _run_lifecycle(spark, f"{tmpdir}/life_{seed}", seed)


@pytest.mark.parametrize("seed", [13, 77])
def test_lifecycle_model_clustered(spark, tmpdir, seed):
    """The clustered-table variant, with RECLUSTER in the op mix: the
    cluster index must survive every mutation, and a recluster (full
    layout rewrite, fresh history root) must leave the live view and
    all post-recluster invariants identical."""
    _run_lifecycle(spark, f"{tmpdir}/life_cl_{seed}", seed, clustered=True)


@pytest.mark.parametrize("seed", [7, 42])
def test_lifecycle_model_sharded_manifest(spark, tmpdir, seed, monkeypatch):
    """r6: the same lifecycle drill with the manifest SHARDED from the
    first few files on (threshold forced down): every mutation, time
    travel, CDC and vacuum invariant must hold identically when the
    per-file stats live in content-addressed page files."""
    import os

    import nimble_spark.sources.table as tbl

    monkeypatch.setattr(tbl, "SHARD_FILE_THRESHOLD", 4)
    monkeypatch.setattr(tbl, "MANIFEST_PAGE_SIZE", 2)
    path = f"{tmpdir}/life_sh_{seed}"
    _run_lifecycle(spark, path, seed)
    # the drill must actually have crossed into sharded territory
    assert os.path.isdir(os.path.join(path, "_nimble", "pages"))


def _head_commit(path) -> int:
    """The head commit NUMBER (== position only until expire_snapshots
    folds history — the drill keys its snapshot model by number)."""
    commits = read_manifest(path)["commits"]
    return int(commits[-1].get("commit", len(commits) - 1))


def _run_lifecycle(spark, path, seed, clustered=False):
    from nimble_spark.sources.compaction import (
        compact_table,
        recluster_table,
        vacuum_table,
    )
    from nimble_spark.sources.deletes import compact_deletes, delete_rows
    from nimble_spark.sources.merge import merge_into, update_where
    from nimble_spark.sources.table import read_changes

    rng = random.Random(seed)

    committed: dict[int, int] = {k: k * 10 for k in range(20)}
    masked: set[int] = set()
    next_key = 20
    base_opts = (
        WriteOptions(cluster_by=["k"], n_cluster_files=2) if clustered else WriteOptions()
    )
    write_table(_df(spark, committed.items()), path, base_opts)

    # snapshots[commit_index] = committed (pre-mask) state at that commit
    snapshots: dict[int, dict[int, int]] = {
        _head_commit(path): dict(committed)
    }

    def check():
        assert _live(spark, path) == {
            k: v for k, v in committed.items() if k not in masked
        }
        assert read_manifest(path)["rows"] == len(committed)

    ops = [
        "append", "merge", "update", "delete",
        "compact_deletes", "compact", "rollback", "maintain", "expire",
        "tag", "stream_batch",
    ]
    if clustered:
        ops.append("recluster")
    stream_w = [None]  # one delegate (one job token) serves every batch
    next_batch = [0]
    for step in range(12):
        op = rng.choice(ops)
        if op == "tag":
            # r10: the commit-discipline fence under random interleaving
            # with every structural op — a root mutation through either
            # path must land (auto-routed to the recorded discipline) or
            # refuse loudly; a tag that reports success must survive,
            # and the table stays on ONE discipline throughout.
            from nimble_spark.sources.table import (
                _ROOT_DISCIPLINE_PROP,
                delete_tag,
                table_properties,
                tag_commit,
            )

            opt = rng.random() < 0.5
            name = f"fz_t{step}"
            disc = table_properties(path).get(_ROOT_DISCIPLINE_PROP)
            if disc == "lock" and opt:
                with pytest.raises(ValueError, match="discipline"):
                    tag_commit(path, name, optimistic=True)
                continue
            tag_commit(path, name, optimistic=opt)
            m_tag = read_manifest(path)
            assert m_tag["tags"][name] == _head_commit(path)
            disc_now = m_tag.get("properties", {}).get(_ROOT_DISCIPLINE_PROP)
            assert disc_now == (disc or ("cas" if opt else "lock"))
            # delete through the LOCK path: on a cas table it must
            # auto-route, never clobber — genuine mixed-writer sequence
            delete_tag(path, name)
            assert name not in read_manifest(path).get("tags", {})
        elif op == "append":
            n = rng.randint(1, 8)
            fresh = {next_key + i: (next_key + i) * 10 for i in range(n)}
            next_key += n
            write_table(_df(spark, fresh.items()), path, WriteOptions(), mode="append")
            committed.update(fresh)
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "stream_batch":
            # r11: the micro-batch sink in the random interleaving —
            # lock-free CAS commits once a 'tag' op stamped the table
            # 'cas', the locked path otherwise; exactly-once either
            # way (an immediate replay of the same batch id must drop)
            import os as _os

            import pyarrow as _pa
            import pyarrow.parquet as _pq

            from nimble_spark.sources.datasource import (
                NimbleStreamWriter,
                NimbleWriteMessage,
            )

            if stream_w[0] is None:
                stream_w[0] = NimbleStreamWriter(path)
            sw = stream_w[0]
            bid = next_batch[0]
            next_batch[0] += 1
            fresh = {
                next_key + i: (next_key + i) * 10
                for i in range(rng.randint(1, 3))
            }
            next_key += len(fresh)

            def _stage_batch():
                rel = (
                    f"pyds-{sw._delegate.job_token}-fz{bid}-"
                    f"{rng.randint(0, 10**9)}.parquet"
                )
                _pq.write_table(
                    _pa.table(
                        {
                            "k": _pa.array(list(fresh), type=_pa.int64()),
                            "v": _pa.array(
                                [fresh[k] for k in fresh], type=_pa.int64()
                            ),
                        }
                    ),
                    _os.path.join(path, rel),
                )
                return [NimbleWriteMessage(rel_path=rel, rows=len(fresh))]

            sw.commit(_stage_batch(), bid)
            committed.update(fresh)
            snapshots[_head_commit(path)] = dict(committed)
            rows_now = read_manifest(path)["rows"]
            sw.commit(_stage_batch(), bid)  # replay: must drop
            assert read_manifest(path)["rows"] == rows_now
        elif op == "merge":
            # upsert: half existing UNMASKED keys (new values), half new.
            # Masked keys are excluded — a mask hides its key by value
            # regardless of later re-inserts until compact_deletes
            # materializes it, so re-upserting one is user error.
            live_keys = [k for k in committed if k not in masked]
            ups = {
                k: rng.randint(0, 999)
                for k in rng.sample(live_keys, min(3, len(live_keys)))
            }
            news = {next_key + i: rng.randint(0, 999) for i in range(2)}
            next_key += 2
            merge_into(spark, path, _df(spark, {**ups, **news}.items()), key="k")
            committed.update(ups)
            committed.update(news)
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "update":
            pivot = rng.randint(0, next_key)
            update_where(spark, path, f"k >= {pivot}", {"v": "v + 1"})
            committed.update(
                {k: v + 1 for k, v in committed.items() if k >= pivot}
            )
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "delete":
            live_keys = [k for k in committed if k not in masked]
            if not live_keys:
                continue
            victims = rng.sample(live_keys, min(2, len(live_keys)))
            delete_rows(spark, path, "k", victims)
            masked.update(victims)
        elif op == "compact_deletes":
            compact_deletes(spark, path)
            committed = {k: v for k, v in committed.items() if k not in masked}
            masked = set()
            # materialization rewrites the whole table: new history root
            snapshots = {_head_commit(path): dict(committed)}
        elif op == "compact":
            before = _head_commit(path)
            try:
                compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
            except ValueError:
                continue  # nothing to compact (single file) — fine
            # data_change=false: CDC feed over the compact commit is empty
            assert read_changes(spark, path, since_commit=before).count() == 0
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "recluster":
            # full layout rewrite: refuses pending masks (masked rows
            # must not ride into a fresh history), resets the history
            # root like compact_deletes, leaves live rows identical
            from nimble_spark.sources.compaction import clustering_depth

            if masked:
                with pytest.raises(ValueError):
                    recluster_table(spark, path, n_files=2)
                continue
            m_rc = recluster_table(spark, path, n_files=2)
            assert "cluster" in m_rc["indexes"]
            assert clustering_depth(m_rc)["max_depth"] <= 2
            snapshots = {int(m_rc["commits"][-1].get("commit", len(m_rc["commits"]) - 1)): dict(committed)}
        elif op == "expire":
            # r9: commit-log retention folds history with STABLE
            # numbers — the live view is untouched, retained snapshots
            # (>= fold base) keep reconstructing, expired ones drop
            # from the model (reading them raises by contract)
            from nimble_spark.sources.table import expire_snapshots

            n_entries = len(read_manifest(path)["commits"])
            if n_entries < 3:
                continue
            em = expire_snapshots(path, keep_last=rng.randint(2, n_entries - 1))
            base_num = int(em["commits"][0]["commit"])
            snapshots = {ci: st for ci, st in snapshots.items() if ci >= base_num}
        elif op == "maintain":
            # the auto-OPTIMIZE loop: whatever it executes, the live
            # view must be unchanged except masks materializing (when
            # its compact_deletes step runs) — and history resets only
            # on the full-rewrite actions, exactly like running them
            # by hand
            from nimble_spark.sources.compaction import run_maintenance

            done = run_maintenance(spark, path, vacuum=False)
            acts = {d["action"]: d["result"] for d in done}
            if "compact_deletes" in acts:
                committed = {k: v for k, v in committed.items() if k not in masked}
                masked = set()
            full_rewrite = "compact_deletes" in acts or (
                "recluster_table" in acts and acts["recluster_table"].startswith("full")
            )
            head = _head_commit(path)
            if full_rewrite:
                snapshots = {head: dict(committed)}
            elif done:
                snapshots[head] = dict(committed)
        elif op == "rollback":
            # restore a random recorded snapshot; the rollback is
            # itself a commit, so it too lands in `snapshots`. Delete
            # masks are NOT commit-logged: pending masks keep hiding
            # their keys across the rollback (modeled by `masked`).
            from nimble_spark.sources.table import rollback_table

            target_ci = rng.choice(sorted(snapshots))
            rollback_table(spark, path, commit=target_ci)
            committed = dict(snapshots[target_ci])
            snapshots[_head_commit(path)] = dict(committed)
        check()

    # Every recorded snapshot reconstructs (compaction tombstoned its
    # sources into trash, so pre-compact commits stay readable)
    for ci, want in snapshots.items():
        got = {
            r["k"]: r["v"]
            for r in read_table(spark, path, as_of_commit=ci).collect()
        }
        assert got == want, f"snapshot at commit {ci} diverged (seed {seed})"

    # VACUUM trades history for space; the live view must be unchanged
    vacuum_table(path, min_age_s=0.0)
    check()
    assert _raw(spark, path) == committed


@pytest.mark.parametrize("seed", [5, 1234])
def test_lifecycle_model_dedup_table(spark, tmpdir, seed):
    """The aliased-table (dedup_columns) variant: appends must keep
    satisfying the alias contract, compactions must carry it forward,
    snapshots must reconstruct the LOGICAL schema at every commit, and
    the CDC feed over the compact commit stays empty."""
    from nimble_spark.sources.compaction import compact_table, vacuum_table
    from nimble_spark.sources.table import read_changes

    rng = random.Random(seed)
    path = f"{tmpdir}/life_dedup_{seed}"

    def _ddf(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "id * 2 AS v", "id * 2 AS v_copy",
            "CAST(id % 3 AS STRING) AS tag"
        )

    from nimble_spark.sources.table import WriteOptions as WO

    write_table(_ddf(0, 50), path, WO(dedup_columns=True))
    assert read_manifest(path)["column_aliases"] == {"v_copy": "v"}
    hi = 50
    committed = {k: k * 2 for k in range(50)}
    snapshots = {_head_commit(path): dict(committed)}

    for _ in range(8):
        op = rng.choice(["append", "append", "compact"])
        if op == "append":
            n = rng.randint(5, 30)
            write_table(_ddf(hi, hi + n), path, WO(), mode="append")
            committed.update({k: k * 2 for k in range(hi, hi + n)})
            hi += n
            snapshots[_head_commit(path)] = dict(committed)
        else:
            before = _head_commit(path)
            try:
                compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
            except ValueError:
                continue
            assert read_changes(spark, path, since_commit=before).count() == 0
            assert read_manifest(path)["column_aliases"] == {"v_copy": "v"}
            snapshots[_head_commit(path)] = dict(committed)
        out = read_table(spark, path)
        assert out.columns == ["k", "v", "v_copy", "tag"]
        assert {r["k"]: r["v"] for r in out.collect()} == committed
        assert out.filter("v_copy != v").count() == 0

    for ci, want in snapshots.items():
        snap = read_table(spark, path, as_of_commit=ci)
        assert {r["k"]: r["v_copy"] for r in snap.collect()} == want, (
            f"snapshot at commit {ci} diverged (seed {seed})"
        )

    vacuum_table(path, min_age_s=0.0)
    out = read_table(spark, path)
    assert {r["k"]: r["v_copy"] for r in out.collect()} == committed


@pytest.mark.parametrize("seed", [13])
def test_concurrent_readers_never_see_torn_state(spark, tmpdir, seed):
    """r6: snapshot isolation under live mutation — read_table,
    read_changes and serve_lookups race a mutation loop (appends,
    updates, compactions, rollbacks). The invariant (USAGE.md
    'in-flight reader' caveat, git f11061e): a read either returns a
    FULL committed state (some state the writer actually published —
    never a torn mix of two), or fails cleanly with a missing-file /
    gone-window error from the maintenance-move window. Anything else
    is a consistency bug."""
    import threading

    from nimble_spark.sources.compaction import compact_table
    from nimble_spark.sources.merge import update_where
    from nimble_spark.sources.serde import serve_lookups
    from nimble_spark.sources.table import read_changes, rollback_table

    rng = random.Random(seed)
    path = f"{tmpdir}/race_{seed}"
    state = {k: k * 10 for k in range(40)}
    write_table(_df(spark, state.items()), path, WriteOptions())

    # every state the writer has ever published (frozen k→v maps)
    published = [dict(state)]
    pub_lock = threading.Lock()
    stop = threading.Event()
    reader_errors: list[str] = []
    clean_failures = [0]
    torn = []

    CLEAN_MARKERS = (
        "does not exist",
        "FileNotFound",
        "PATH_NOT_FOUND",
        "are gone",
        "No such file",
        "FILE_NOT_EXIST",
        # Spark wraps executor-side file loss as FAILED_READ_FILE.*;
        # the NO_HINT subclass hides the FileNotFoundException cause,
        # and a raw Py4JJavaError's string may omit the Java cause
        # chain entirely. Nothing in this fuzz corrupts bytes — every
        # read failure is the documented maintenance-move window.
        "FAILED_READ_FILE",
    )

    def reader():
        probe_keys = [1, 7, 25, 999]
        while not stop.is_set():
            mode = rng.choice(["scan", "changes", "serve"])
            try:
                if mode == "scan":
                    got = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
                elif mode == "changes":
                    # typed feed: rollbacks past appends REMOVE rows,
                    # which only 'delete' events can express — reduce
                    # per key by newest (_commit, insert-beats-delete
                    # within a commit), drop keys whose winner deletes
                    rows = read_changes(
                        spark,
                        path,
                        since_commit=-1,
                        with_commit=True,
                        with_change_type=True,
                    ).collect()
                    best: dict[int, tuple[tuple[int, int], int]] = {}
                    for r in rows:
                        ci = r["_commit"] if r["_commit"] is not None else -1
                        rank = (ci, 1 if r["_change_type"] == "insert" else 0)
                        if r["k"] not in best or rank >= best[r["k"]][0]:
                            best[r["k"]] = (rank, r["v"])
                    got = {
                        k: v
                        for k, ((_ci, ins), v) in best.items()
                        if ins == 1
                    }
                else:
                    res = serve_lookups(
                        spark,
                        path,
                        spark.createDataFrame(
                            [(i, k) for i, k in enumerate(probe_keys)],
                            "request_id LONG, k LONG",
                        ),
                        "k",
                        ["v"],
                    ).collect()
                    # decode: n_rows=1 hits must match SOME published
                    # state's value for that key
                    import io as _io

                    import pyarrow as _pa

                    got = {}
                    for r in res:
                        if r["n_rows"] == 0:
                            continue
                        with _pa.ipc.open_stream(_io.BytesIO(r["payload"])) as rd:
                            t = rd.read_all()
                        got[t.column("k").to_pylist()[0]] = t.column("v").to_pylist()[0]
                    with pub_lock:
                        ok = any(
                            all(s.get(k) == v for k, v in got.items())
                            for s in published
                        )
                    if not ok:
                        torn.append(("serve", got))
                    continue
                with pub_lock:
                    ok = any(got == s for s in published)
                if not ok:
                    torn.append((mode, got))
            except Exception as exc:  # noqa: BLE001
                msg = f"{type(exc).__name__}: {exc}"
                if any(m in msg for m in CLEAN_MARKERS):
                    clean_failures[0] += 1
                else:
                    reader_errors.append(msg[:300])
                    return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        next_key = 1000
        for step in range(10):
            op = rng.choice(["append", "update", "compact", "rollback"])
            # The post-state registers BEFORE the mutation runs: the
            # commit becomes reader-visible at the manifest rename,
            # which happens INSIDE the op — registering after it would
            # flag a reader that legitimately observed the fresh commit
            # in that window as torn (seed-31 false positive). A state
            # listed slightly early can't mask a real tear: a torn mix
            # of two commits still matches no list entry.
            if op == "append":
                fresh = {next_key + i: (next_key + i) * 10 for i in range(3)}
                next_key += 3
                state.update(fresh)
                with pub_lock:
                    published.append(dict(state))
                write_table(_df(spark, fresh.items()), path, WriteOptions(), mode="append")
            elif op == "update":
                state = {k: (v + 1 if k < 40 else v) for k, v in state.items()}
                with pub_lock:
                    published.append(dict(state))
                update_where(spark, path, "k < 40", {"v": "v + 1"})
            elif op == "compact":
                # no state change (data_change=False) — nothing to register
                try:
                    compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
                except ValueError:
                    continue  # single file — nothing to merge
            elif op == "rollback":
                m = read_manifest(path)
                n = len(m.get("commits", []))
                if n < 2:
                    continue
                # the restored state is some EARLIER published entry, so
                # readers match it even before the post-hoc re-read here
                rollback_table(spark, path, commit=n - 2)
                state = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
                with pub_lock:
                    published.append(dict(state))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)

    assert not reader_errors, reader_errors
    assert not torn, torn[:3]


# ---------------------------------------------------------------------------
# r7: COMBINED model — alter + clone + maintenance + sharded threshold
# crossing interleaved with every mutation (verdict #7: the separate
# drills never explored cross-feature interactions like an alter on a
# clone that crosses the page threshold mid-rollback).
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [3, 99, 60061])
def test_lifecycle_model_combined(spark, tmpdir, seed, monkeypatch):
    import os

    import nimble_spark.sources.table as tbl

    monkeypatch.setattr(tbl, "SHARD_FILE_THRESHOLD", 4)
    monkeypatch.setattr(tbl, "MANIFEST_PAGE_SIZE", 2)
    path = f"{tmpdir}/life_combo_{seed}"
    _run_lifecycle_combined(spark, path, seed)
    assert os.path.isdir(os.path.join(path, "_nimble", "pages"))


def _run_lifecycle_combined(spark, path, seed):
    from nimble_spark.sources.alter import alter_table
    from nimble_spark.sources.clone import clone_table, deepen_clone
    from nimble_spark.sources.compaction import compact_table, vacuum_table
    from nimble_spark.sources.deletes import (
        compact_deletes,
        delete_rows,
        read_with_deletes,
    )
    from nimble_spark.sources.merge import merge_into, update_where
    from nimble_spark.sources.table import read_changes, rollback_table

    rng = random.Random(seed)
    vname = "v"  # current LOGICAL name of the value column
    n_renames = 0

    committed: dict[int, int] = {k: k * 10 for k in range(20)}
    masked: set[int] = set()
    next_key = 20
    write_table(
        _df(spark, committed.items()),
        path,
        # r8: all three synopsis kinds ride the whole combined
        # lifecycle — every append/merge/update/compaction/rollback/
        # clone must keep them answer-exact (checked in check())
        WriteOptions(
            cluster_by=["k"],
            n_cluster_files=2,
            ndv_columns=["k"],
            sum_columns=["v"],
            histogram_columns=["v"],
        ),
    )
    # r9: the property bag must survive EVERY random op interleaving
    # (append/merge/update/compaction/rollback/alter/clone/expire) —
    # properties are not commit history
    from nimble_spark.sources.table import set_table_property, table_properties

    set_table_property(path, "owner", "fuzz-crew")
    snapshots: dict[int, dict[int, int]] = {
        _head_commit(path): dict(committed)
    }
    # deepened clones: dst -> (expected rows, clone's value-column name)
    clones: dict[str, tuple[dict[int, int], str]] = {}
    clone_key = 100000  # clone-local appends never collide with the model

    def _wdf(rows):
        d = _df(spark, rows)
        return d.withColumnRenamed("v", vname) if vname != "v" else d

    def live() -> dict[int, int]:
        return {r["k"]: r[vname] for r in read_with_deletes(spark, path).collect()}

    def check():
        assert live() == {k: v for k, v in committed.items() if k not in masked}
        assert read_manifest(path)["rows"] == len(committed)
        assert table_properties(path).get("owner") == "fuzz-crew"
        # statistics-answered aggregates: exact against the model when
        # unmasked, loud refusal while masks pend (never a wrong answer)
        from collections import Counter

        from nimble_spark.sources.compaction import (
            fast_ndv,
            fast_sum,
            fast_value_counts,
        )

        from nimble_spark.sources.compaction import (
            fast_count,
            fast_median,
            fast_mode,
            fast_topk,
        )

        if masked:
            # EVERY statistics-answered entry point must refuse loudly
            # under pending masks — never a silently-stale answer
            # (VERDICT r8 #8: refuse-or-exact, drilled per op)
            for fn in (
                lambda: fast_sum(path, vname),
                lambda: fast_count(spark, path),
                lambda: fast_value_counts(path, vname),
                lambda: fast_mode(path, vname),
                lambda: fast_median(path, vname),
                lambda: fast_topk(path, vname, 3),
            ):
                with pytest.raises(ValueError, match="delete masks"):
                    fn()
            return
        assert fast_sum(path, vname)["sum"] == sum(committed.values())
        assert fast_count(spark, path) == len(committed)
        nd = fast_ndv(path, "k")
        assert nd["exact"] and nd["ndv"] == len(committed)
        counts = Counter(committed.values())
        assert dict(fast_value_counts(path, vname)) == dict(counts)
        # mode / median / top-k: statistics answer == full-model answer
        mode_v, mode_n = fast_mode(path, vname)
        assert mode_n == max(counts.values()) and counts[mode_v] == mode_n
        vals = sorted(committed.values())
        want_med = (vals[(len(vals) - 1) // 2] + vals[len(vals) // 2]) / 2.0
        assert fast_median(path, vname) == want_med
        got_topk = fast_topk(path, vname, 3)
        want_n = sorted(counts.values(), reverse=True)[:3]
        assert [n for _, n in got_topk] == want_n

    ops = [
        "append", "merge", "update", "delete", "compact_deletes",
        "compact", "rollback", "alter", "clone", "expire",
    ]
    for step in range(14):
        op = rng.choice(ops)
        if op == "append":
            n = rng.randint(1, 8)
            fresh = {next_key + i: (next_key + i) * 10 for i in range(n)}
            next_key += n
            write_table(_wdf(fresh.items()), path, WriteOptions(), mode="append")
            committed.update(fresh)
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "merge":
            live_keys = [k for k in committed if k not in masked]
            ups = {
                k: rng.randint(0, 999)
                for k in rng.sample(live_keys, min(3, len(live_keys)))
            }
            news = {next_key + i: rng.randint(0, 999) for i in range(2)}
            next_key += 2
            merge_into(spark, path, _wdf({**ups, **news}.items()), key="k")
            committed.update(ups)
            committed.update(news)
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "update":
            pivot = rng.randint(0, next_key)
            update_where(spark, path, f"k >= {pivot}", {vname: f"{vname} + 1"})
            committed.update({k: v + 1 for k, v in committed.items() if k >= pivot})
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "delete":
            live_keys = [k for k in committed if k not in masked]
            if not live_keys:
                continue
            victims = rng.sample(live_keys, min(2, len(live_keys)))
            delete_rows(spark, path, "k", victims)
            masked.update(victims)
        elif op == "compact_deletes":
            compact_deletes(spark, path)
            committed = {k: v for k, v in committed.items() if k not in masked}
            masked = set()
            snapshots = {_head_commit(path): dict(committed)}
        elif op == "compact":
            before = _head_commit(path)
            try:
                compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
            except ValueError:
                continue
            assert read_changes(spark, path, since_commit=before).count() == 0
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "rollback":
            # rollback restores the FILE SET; the schema mapping is
            # manifest-current, so the logical name stays post-rename
            target_ci = rng.choice(sorted(snapshots))
            rollback_table(spark, path, commit=target_ci)
            committed = dict(snapshots[target_ci])
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "alter":
            if rng.random() < 0.5:
                # metadata-only rename of the value column; every later
                # write/update/read speaks the NEW logical name, masks
                # keep applying (physical-name directories)
                n_renames += 1
                new = f"v_r{n_renames}"
                alter_table(path, rename={vname: new})
                vname = new
            else:
                # add → widen → verify null-filled everywhere → drop:
                # the self-contained metadata-only column lifecycle
                # (widen rides along so the declared-type authority is
                # exercised under every surrounding mutation)
                alter_table(path, add={f"extra{step}": "int"})
                alter_table(path, widen={f"extra{step}": "bigint"})
                got = read_with_deletes(spark, path)
                assert dict(got.dtypes)[f"extra{step}"] == "bigint"
                assert got.filter(f"extra{step} IS NULL").count() == len(
                    [k for k in committed if k not in masked]
                )
                alter_table(path, drop=[f"extra{step}"])
            # alters are data_change=false commits — snapshots keyed at
            # the new head read the same rows
            snapshots[_head_commit(path)] = dict(committed)
        elif op == "expire":
            from nimble_spark.sources.table import expire_snapshots

            n_entries = len(read_manifest(path)["commits"])
            if n_entries < 3:
                continue
            em = expire_snapshots(path, keep_last=rng.randint(2, n_entries - 1))
            base_num = int(em["commits"][0]["commit"])
            snapshots = {ci: st for ci, st in snapshots.items() if ci >= base_num}
        elif op == "clone":
            dst = f"{path}-clone-{step}"
            clone_table(spark, src=path, dst=dst, shallow=True)
            expect = {k: v for k, v in committed.items() if k not in masked}
            got = {
                r["k"]: r[vname] for r in read_with_deletes(spark, dst).collect()
            }
            assert got == expect, f"fresh clone diverged (seed {seed})"
            # deepen immediately: later SOURCE rewrites tombstone the
            # foreign bytes into the source's trash (the documented
            # shallow dependency) — a deepened clone is independent
            deepen_clone(spark, dst)
            # ...then mutate the CLONE: alter + append on the fork must
            # never leak into the source (checked by check() below)
            cvname = f"cv{step}"
            alter_table(dst, rename={vname: cvname})
            fresh = {clone_key: 1, clone_key + 1: 2}
            clone_key += 2
            d = _df(spark, fresh.items()).withColumnRenamed("v", cvname)
            write_table(d, dst, WriteOptions(), mode="append")
            clones[dst] = ({**expect, **fresh}, cvname)
        check()

    for ci, want in snapshots.items():
        got = {
            r["k"]: r[vname]
            for r in read_table(spark, path, as_of_commit=ci).collect()
        }
        assert got == want, f"snapshot at commit {ci} diverged (seed {seed})"

    vacuum_table(path, min_age_s=0.0)
    check()

    # every deepened, diverged clone still reads ITS state — immune to
    # everything the source did after the fork (incl. the vacuum above)
    from nimble_spark.sources.deletes import read_with_deletes as _rwd

    for dst, (want, cvname) in clones.items():
        got = {r["k"]: r[cvname] for r in _rwd(spark, dst).collect()}
        assert got == want, f"clone {dst} diverged (seed {seed})"
