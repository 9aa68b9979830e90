"""Registry entries for the round-5 table-lifecycle capabilities:
duplicate-column storage dedup, snapshot tags, history-preserving
rollback, CDC commit provenance, and batched lookup serving.

Implementations live in sources/table.py and sources/serde.py (each
pytest-gated since round 5); these entries wire them to the driver's
differential gate with DuckDB oracles.

Reference parity:
- dedup_columns: dwio/nimble/tablet/TabletWriter.cpp:98-109 (streams
  with identical bytes stored once; readers served from the copy).
- tags/rollback: Iceberg refs / Delta RESTORE analogues over the
  commit log (SURVEY.md §2.1 snapshot surface).
- CDC provenance: Delta's _commit_version; commit-granular file reads.
- serve_lookups: velox/index/NimbleIndexProjector.h:35-43 (a batch of
  point-lookup requests + projections → index-located rows,
  serialized for transport).

Build discipline: every mutation happens inside the ensure_cached
build callback, so the cached table is immutable once published and
the query path is read-only (safe under the driver's repeated runs).
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimble_spark.functions.exact import dsum, dsum_sql, rnd
from nimble_spark.registry import register
from nimble_spark.sources.cache import ensure_cached
from nimble_spark.sources.table import (
    WriteOptions,
    read_changes,
    read_manifest,
    read_table,
    rollback_table,
    tag_commit,
    write_table,
)
from nimble_spark.tables import load

_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select(*_COLS)


@register(
    "q_dedup_columns_roundtrip",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {dsum_sql("o_totalprice")} AS total_copy,
           COUNT(*) AS n_status_match,
           2 AS n_aliases
    FROM orders
    """,
    category="lifecycle",
)
def q_dedup_columns_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-column storage dedup round trip (TabletWriter
    stream-dedup analogue): a frame carrying exact copies of two
    columns is written with ``dedup_columns=True`` — the physical
    table stores ONE copy per distinct column and the manifest records
    the alias map — then read back; the logical schema must restore
    losslessly (copy aggregates equal original aggregates, null-safe
    equality holds on every row) and the manifest must show exactly
    the two aliases."""

    def _build(tmp: str) -> None:
        src = _orders(spark, sf_dir).selectExpr(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            "o_totalprice AS price_copy",
            "o_orderstatus AS status_copy",
        )
        write_table(src, tmp, WriteOptions(dedup_columns=True))

    path = ensure_cached(sf_dir, "orders__dedup_cols", ["orders"], _build)
    n_aliases = len(read_manifest(path, materialize=False).get("column_aliases", {}))
    back = read_table(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("price_copy").alias("total_copy"),
        F.sum(
            (
                F.col("status_copy").eqNullSafe(F.col("o_orderstatus"))
                & F.col("price_copy").eqNullSafe(F.col("o_totalprice"))
            ).cast("long")
        ).alias("n_status_match"),
        F.lit(n_aliases).cast("int").alias("n_aliases"),
    )


@register(
    "q_snapshot_tag_read",
    oracle=f"""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 <> 0) AS rows_at_tag,
           (SELECT {dsum_sql("o_totalprice")} FROM orders WHERE o_orderkey % 3 <> 0)
               AS total_at_tag,
           (SELECT COUNT(*) FROM orders) AS rows_at_head,
           (SELECT {dsum_sql("o_totalprice")} FROM orders) AS total_at_head
    """,
    category="lifecycle",
)
def q_snapshot_tag_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot tags (Iceberg ref / Delta version-label analogue):
    commit 0 (two thirds of orders) is tagged ``v1``; commit 1 appends
    the rest. ``read_table(as_of_tag='v1')`` must reconstruct exactly
    the tagged snapshot — no commit-number bookkeeping at the call
    site — while the head read sees everything."""

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        write_table(o.filter("o_orderkey % 3 != 0"), tmp, WriteOptions())
        tag_commit(tmp, "v1")
        write_table(o.filter("o_orderkey % 3 = 0"), tmp, mode="append")

    path = ensure_cached(sf_dir, "orders__tagged", ["orders"], _build)
    at_tag = read_table(spark, path, as_of_tag="v1").agg(
        F.count(F.lit(1)).alias("rows_at_tag"), dsum("o_totalprice").alias("total_at_tag")
    )
    at_head = read_table(spark, path).agg(
        F.count(F.lit(1)).alias("rows_at_head"), dsum("o_totalprice").alias("total_at_head")
    )
    return at_tag.crossJoin(at_head).select(
        "rows_at_tag", "total_at_tag", "rows_at_head", "total_at_head"
    )


@register(
    "q_cas_tag_publish",
    oracle=f"""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 1) AS rows_at_base,
           (SELECT {dsum_sql("o_totalprice")} FROM orders WHERE o_orderkey % 4 = 1)
               AS total_at_base,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 IN (1, 2))
               AS rows_at_head,
           8 AS n_tags
    """,
    category="lifecycle",
)
def q_cas_tag_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: LOCK-FREE tag publishes via the conditional compare-and-swap
    root commit (table.cas_mutate_root over MetadataFS.write_if_version
    — the S3 PUT If-Match / GCS if-generation-match pattern). Eight
    optimistic taggers race on one table with NO lock object; the CAS
    retry loop must keep every tag (a create-then-verify lease can lose
    one), reads through a tag must reconstruct its snapshot, and a
    deleted tag must vanish without disturbing the others. The drilled
    multi-process form is tests/test_cas_publish.py; this query pins
    the end-to-end read surface against the oracle."""

    def _build(tmp: str) -> None:
        import threading

        from nimble_spark.sources.table import delete_tag, tag_commit

        o = _orders(spark, sf_dir)
        write_table(o.filter("o_orderkey % 4 = 1"), tmp, WriteOptions())
        write_table(o.filter("o_orderkey % 4 = 2"), tmp, mode="append")
        # 9 concurrent optimistic taggers, no table lock involved
        threads = [
            threading.Thread(
                target=tag_commit, args=(tmp, f"base{i}", 0), kwargs={"optimistic": True}
            )
            for i in range(9)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        delete_tag(tmp, "base8", optimistic=True)  # 8 remain

    path = ensure_cached(sf_dir, "orders__cas_tags", ["orders"], _build)
    from nimble_spark.sources.table import read_manifest

    tags = read_manifest(path).get("tags", {})
    assert all(tags.get(f"base{i}") == 0 for i in range(8)), tags
    at_base = read_table(spark, path, as_of_tag="base3").agg(
        F.count(F.lit(1)).alias("rows_at_base"),
        dsum("o_totalprice").alias("total_at_base"),
    )
    at_head = read_table(spark, path).agg(F.count(F.lit(1)).alias("rows_at_head"))
    return at_base.crossJoin(at_head).select(
        "rows_at_base",
        "total_at_base",
        "rows_at_head",
        F.lit(len(tags)).cast("int").alias("n_tags"),
    )


@register(
    "q_rollback_restore",
    oracle=f"""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 <> 0) AS live_rows,
           (SELECT {dsum_sql("o_totalprice")} FROM orders WHERE o_orderkey % 3 <> 0)
               AS live_total,
           (SELECT COUNT(*) FROM orders) AS hist_rows,
           3 AS n_commits
    """,
    category="lifecycle",
)
def q_rollback_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-preserving rollback (Delta RESTORE analogue): after an
    append, ``rollback_table(commit=0)`` restores the live table to
    the base snapshot — but the rollback is ITSELF a commit, so the
    rolled-back-past state (commit 1, base+append) remains readable
    via time travel until VACUUM. Live reads must equal the base,
    ``as_of_commit=1`` must still see everything, and the commit log
    must show all three commits."""

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        write_table(o.filter("o_orderkey % 3 != 0"), tmp, WriteOptions())
        write_table(o.filter("o_orderkey % 3 = 0"), tmp, mode="append")
        rollback_table(spark, tmp, commit=0)

    path = ensure_cached(sf_dir, "orders__rolledback", ["orders"], _build)
    n_commits = len(read_manifest(path, materialize=False).get("commits", []))
    live = read_table(spark, path).agg(
        F.count(F.lit(1)).alias("live_rows"), dsum("o_totalprice").alias("live_total")
    )
    hist = (
        read_table(spark, path, as_of_commit=1)
        .agg(F.count(F.lit(1)).alias("hist_rows"))
    )
    return live.crossJoin(hist).select(
        "live_rows",
        "live_total",
        "hist_rows",
        F.lit(n_commits).cast("int").alias("n_commits"),
    )


@register(
    "q_cdc_delete_events",
    oracle=f"""
    SELECT CAST(0 AS BIGINT) AS _commit, 'insert' AS _change_type,
           COUNT(*) AS n_rows, {dsum_sql("o_totalprice")} AS total
    FROM orders WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert',
           COUNT(*), {dsum_sql("o_totalprice")}
    FROM orders WHERE o_orderkey % 3 = 2
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete',
           COUNT(*), {dsum_sql("o_totalprice")}
    FROM orders WHERE o_orderkey % 3 = 2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'insert',
           COUNT(*), {dsum_sql("o_totalprice")}
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    category="lifecycle",
)
def q_cdc_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed change feed across a row-removing rollback (Delta CDF
    _change_type analogue; found-by-fuzz r6): commit 0 lands a third
    of orders, commit 1 appends another third, commit 2 ROLLS BACK
    past that append (removing its rows — something an upsert-only
    replay would silently resurrect), commit 3 appends the last
    third. ``read_changes(with_change_type=True)`` must deliver the
    rollback's removals as 'delete' events (read back from the
    retention trash) attributed to commit 2, alongside the three
    insert deliveries."""

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        write_table(o.filter("o_orderkey % 3 = 1"), tmp, WriteOptions())
        write_table(o.filter("o_orderkey % 3 = 2"), tmp, mode="append")
        rollback_table(spark, tmp, commit=0)
        write_table(o.filter("o_orderkey % 3 = 0"), tmp, mode="append")

    path = ensure_cached(sf_dir, "orders__cdc_rollback", ["orders"], _build)
    ch = read_changes(
        spark, path, since_commit=-1, with_commit=True, with_change_type=True
    )
    return ch.groupBy("_commit", "_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice").alias("total")
    )


@register(
    "q_apply_changes",
    oracle=f"""
    WITH final AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 8 = 5
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice
        FROM orders WHERE o_orderkey % 32 = 1
        UNION ALL
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 3
    )
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           {dsum_sql("o_totalprice")} AS total
    FROM final
    """,
    category="lifecycle",
)
def q_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: APPLY CHANGES INTO (merge.apply_changes) — the CDC
    consumer contract read_changes documents, shipped as one
    operator: reduce a typed change window per key to its newest
    event (insert beats delete within a commit), upsert the
    insert-winners (merge_into's file-granular copy-on-write), mask
    the delete-winners (distributed, driver-free). The fixture's
    window exercises every ordering: plain delete (%32=17 keys),
    delete-then-reinsert across commits (%32=1 → survives at +1000),
    update-then-delete (%16=9 → gone), and brand-new inserts (%4=3);
    untouched target rows (%8=5) ride through. Delta analogue:
    APPLY CHANGES INTO / CDF apply; reference analogue: the mutation
    surface of SURVEY §2.3 driven from the commit log."""
    from nimble_spark.sources.deletes import read_with_deletes
    from nimble_spark.sources.merge import apply_changes

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        write_table(o.filter("o_orderkey % 4 = 1"), tmp, WriteOptions())

        def ev(cond: str, commit: int, kind: str, price=None) -> DataFrame:
            d = o.filter(cond)
            if price is not None:
                d = d.withColumn("o_totalprice", F.col("o_totalprice") + price)
            return d.withColumn("_commit", F.lit(commit).cast("long")).withColumn(
                "_change_type", F.lit(kind)
            )

        window = (
            ev("o_orderkey % 16 = 1", 5, "delete")          # delete half of %8=1
            .unionByName(ev("o_orderkey % 32 = 1", 6, "insert", price=1000))
            .unionByName(ev("o_orderkey % 16 = 9", 4, "insert", price=500))
            .unionByName(ev("o_orderkey % 16 = 9", 5, "delete"))
            .unionByName(ev("o_orderkey % 4 = 3", 5, "insert"))
        )
        apply_changes(spark, tmp, window, key="o_orderkey")

    path = ensure_cached(sf_dir, "orders__apply_changes", ["orders"], _build)
    return read_with_deletes(spark, path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "q_replicate_incremental",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           {dsum_sql("CASE WHEN o_orderkey % 6 = 4 THEN o_totalprice + 100 ELSE o_totalprice END")} AS total,
           CAST(0 AS BIGINT) AS final_noop_rows
    FROM orders
    """,
    category="lifecycle",
)
def q_replicate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: CDC-driven incremental replication (merge.replicate_table)
    — the continuous-refresh shape a 100 TB pipeline runs on a
    schedule. The build bootstraps a replica from a third of orders,
    then the source evolves (append, a merge_into price update,
    another append) with one replicate call after each step; every
    sync costs O(changed commits) via read_changes + apply_changes,
    the cursor lives in the replica's own property bag (restart-safe,
    no external state), and a fully-synced call is a recorded no-op.
    The oracle is the source's final state computed declaratively —
    a hash match proves the replica converged exactly. Delta
    analogue: a CDF-fed downstream table."""
    from nimble_spark.sources.merge import merge_into, replicate_table

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        src, dst = f"{tmp}/src", f"{tmp}/dst"
        write_table(o.filter("o_orderkey % 3 = 1"), src, WriteOptions())
        r = replicate_table(spark, src, dst, key="o_orderkey")
        assert r["mode"] == "bootstrap"
        write_table(o.filter("o_orderkey % 3 = 2"), src, mode="append")
        merge_into(
            spark, src,
            o.filter("o_orderkey % 6 = 4").withColumn(
                "o_totalprice", F.col("o_totalprice") + 100
            ),
            key="o_orderkey",
        )
        r = replicate_table(spark, src, dst, key="o_orderkey")
        assert r["mode"] == "incremental"
        write_table(o.filter("o_orderkey % 3 = 0"), src, mode="append")
        replicate_table(spark, src, dst, key="o_orderkey")
        final = replicate_table(spark, src, dst, key="o_orderkey")
        assert final["mode"] == "noop" and final["rows_applied"] == 0

    path = ensure_cached(sf_dir, "orders__replica", ["orders"], _build)
    from nimble_spark.sources.deletes import read_with_deletes

    return read_with_deletes(spark, f"{path}/dst").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        dsum("o_totalprice").alias("total"),
        F.lit(0).cast("long").alias("final_noop_rows"),
    )


@register(
    "q_replicate_across_alter",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           {dsum_sql("o_totalprice")} AS total_price,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM orders
    """,
    category="lifecycle",
)
def q_replicate_across_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 (VERDICT r10 #1): incremental replication whose sync window
    CROSSES source schema evolution. The source bootstraps a replica,
    appends, then ALTERs (rename o_totalprice→price + add a string
    column) and appends post-alter rows — one replicate call replays
    the window's alter commits onto the replica (bringing it to the
    source's current logical schema, the reference's offset-stable
    evolution reads: dwio/nimble/velox/SchemaReader.h:27-39, missing
    columns read as null) and only then applies the data, which
    read_changes already presents in the current schema. The oracle is
    the source's final state computed declaratively — a hash match
    proves pre-alter rows resolved through the rename, pre-add rows
    null-filled, and post-alter rows landed typed."""
    from nimble_spark.sources.alter import alter_table
    from nimble_spark.sources.merge import replicate_table

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
        src, dst = f"{tmp}/src", f"{tmp}/dst"
        write_table(o.filter("o_orderkey % 3 = 1"), src, WriteOptions())
        r = replicate_table(spark, src, dst, key="o_orderkey")
        assert r["mode"] == "bootstrap"
        write_table(o.filter("o_orderkey % 3 = 2"), src, mode="append")
        alter_table(
            src, rename={"o_totalprice": "price"}, add={"flag": "string"}
        )
        write_table(
            o.filter("o_orderkey % 3 = 0").selectExpr(
                "o_orderkey", "o_totalprice AS price", "'x' AS flag"
            ),
            src,
            mode="append",
        )
        r = replicate_table(spark, src, dst, key="o_orderkey")
        assert r["mode"] == "incremental"
        final = replicate_table(spark, src, dst, key="o_orderkey")
        assert final["mode"] == "noop"

    path = ensure_cached(sf_dir, "orders__replica_alter", ["orders"], _build)
    from nimble_spark.sources.deletes import read_with_deletes

    return read_with_deletes(spark, f"{path}/dst").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        dsum("price").alias("total_price"),
        F.count("flag").alias("n_flagged"),
    )


@register(
    "q_cdc_commit_provenance",
    oracle=f"""
    SELECT CAST(1 AS BIGINT) AS _commit,
           COUNT(*) AS n_rows,
           {dsum_sql("o_totalprice")} AS total
    FROM orders WHERE o_orderkey % 3 = 2
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS _commit,
           COUNT(*) AS n_rows,
           {dsum_sql("o_totalprice")} AS total
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    category="lifecycle",
)
def q_cdc_commit_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC commit provenance (Delta _commit_version analogue): three
    commits land disjoint thirds of orders; ``read_changes(since=0,
    with_commit=True)`` delivers exactly commits 1 and 2, each row
    stamped with the commit that delivered it — read per-commit, so
    attribution stays correct even when a file re-appears across
    commits (rollback re-adds). Grouping by ``_commit`` must
    reproduce each append exactly."""

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        write_table(o.filter("o_orderkey % 3 = 1"), tmp, WriteOptions())
        write_table(o.filter("o_orderkey % 3 = 2"), tmp, mode="append")
        write_table(o.filter("o_orderkey % 3 = 0"), tmp, mode="append")

    path = ensure_cached(sf_dir, "orders__cdc3", ["orders"], _build)
    ch = read_changes(spark, path, since_commit=0, with_commit=True)
    return ch.groupBy("_commit").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("o_totalprice").alias("total")
    )


@register(
    "q_clone_table",
    oracle=f"""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 <> 0) AS src_rows,
           (SELECT COUNT(*) FROM orders) AS clone_rows,
           (SELECT {dsum_sql("o_totalprice")} FROM orders) AS clone_total,
           1 AS zero_copy
    """,
    category="lifecycle",
)
def q_clone_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy shallow clone (Delta SHALLOW CLONE analogue,
    sources/clone.py): two thirds of orders become a clustered source
    table; the clone references every source file by absolute path —
    no data byte moves — then diverges with an append of the remaining
    third. The clone must read source+append, the source must still
    read only its own rows, and the in-query ``zero_copy`` literal
    proves from the manifest that every pre-append entry is foreign
    (file count preserved, zero local bytes at clone time)."""
    from nimble_spark.sources.clone import clone_table, foreign_files

    def _build_src(tmp: str) -> None:
        write_table(
            _orders(spark, sf_dir).filter("o_orderkey % 3 != 0"),
            tmp,
            WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4),
        )

    # The source must live at its FINAL cache path before the clone
    # builds: shallow-clone entries are absolute paths, and a clone
    # built against a tmp dir would dangle after the cache rename.
    src = ensure_cached(sf_dir, "orders__clone_src", ["orders"], _build_src)

    def _build_clone(tmp: str) -> None:
        cl = f"{tmp}-table"
        clone_table(spark, src, cl, shallow=True)
        write_table(
            _orders(spark, sf_dir).filter("o_orderkey % 3 = 0"), cl, mode="append"
        )
        # ensure_cached renames tmp → final, which would relocate the
        # clone's own root (harmless for entries, but keep the table
        # where it was built): move it INTO the cached dir unchanged.
        import os as _os
        import shutil as _shutil

        _os.makedirs(tmp, exist_ok=True)
        _shutil.move(cl, _os.path.join(tmp, "clone"))

    root = ensure_cached(sf_dir, "orders__clone", ["orders"], _build_clone)
    import os as _os

    cl = _os.path.join(root, "clone")
    m = read_manifest(cl)
    src_files = len(read_manifest(src)["files"])
    zero_copy = int(
        len(foreign_files(m)) == src_files
        and m["commits"][0]["mode"] == "clone"
        and m["user_metadata"].get("clone.shallow") == "true"
    )
    src_rows = read_table(spark, src).agg(F.count(F.lit(1)).alias("src_rows"))
    cl_agg = read_table(spark, cl).agg(
        F.count(F.lit(1)).alias("clone_rows"), dsum("o_totalprice").alias("clone_total")
    )
    return src_rows.crossJoin(cl_agg).select(
        "src_rows",
        "clone_rows",
        "clone_total",
        F.lit(zero_copy).cast("int").alias("zero_copy"),
    )


@register(
    "q_clone_deepen",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {dsum_sql("o_totalprice")} AS total,
           1 AS localized
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
    category="lifecycle",
)
def q_clone_deepen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deepening a shallow clone (sources/clone.py deepen_clone): every
    foreign entry's bytes copy under the clone's root and splice in
    place as ONE data_change=false commit — CDC consumers never re-see
    rows because bytes moved, and the clone's dependency on the source
    ends. The oracle hash proves the localized bytes carry exactly the
    source rows; the ``localized`` literal proves the manifest facts
    (zero foreign entries, mode='deepen', data_change=false, and a
    post-deepen CDC replay window that is empty)."""
    from nimble_spark.sources.clone import clone_table, deepen_clone, foreign_files

    def _build_src(tmp: str) -> None:
        write_table(
            _orders(spark, sf_dir).filter("o_orderkey % 3 != 0"),
            tmp,
            WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4),
        )

    src = ensure_cached(sf_dir, "orders__clone_src", ["orders"], _build_src)

    def _build(tmp: str) -> None:
        cl = f"{tmp}-table"
        clone_table(spark, src, cl, shallow=True)
        deepen_clone(spark, cl)
        import os as _os
        import shutil as _shutil

        _os.makedirs(tmp, exist_ok=True)
        _shutil.move(cl, _os.path.join(tmp, "clone"))

    root = ensure_cached(sf_dir, "orders__clone_deep", ["orders"], _build)
    import os as _os

    cl = _os.path.join(root, "clone")
    m = read_manifest(cl)
    last = m["commits"][-1]
    localized = int(
        not foreign_files(m)
        and last["mode"] == "deepen"
        and last["data_change"] is False
        and read_changes(spark, cl, since_commit=0).count() == 0
    )
    return read_table(spark, cl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total"),
        F.lit(localized).cast("int").alias("localized"),
    )


def _learned_oracle() -> str:
    """The oracle recomputes the learned model's per-column scores in
    pure SQL from the same data: exact NDV / null / byte statistics →
    the identical fixed-order linear arithmetic → the identical
    decision. Weights are baked constants (offline-trained, like the
    reference's EncodingPredictionModel params)."""
    from nimble_spark.sources.encoding_policy import DEFAULT_ENCODING_MODEL as M

    def col_sql(name: str, is_str: bool, width: int) -> str:
        lab = (
            f"LOG10(SUM(LENGTH({name})) * 1.0 / COUNT(*))"
            if is_str
            else f"LOG10({width}.0)"
        )
        return f"""
        SELECT '{name}' AS col,
               COUNT(DISTINCT {name}) * 1.0 / COUNT(*) AS ndv_ratio,
               LOG10(COUNT(*) * 1.0) AS log_n,
               (COUNT(*) - COUNT({name})) * 1.0 / COUNT(*) AS null_ratio,
               {lab} AS log_avg_bytes
        FROM orders"""

    prof = "\n    UNION ALL".join(
        [
            col_sql("o_orderkey", False, 8),
            col_sql("o_custkey", False, 8),
            col_sql("o_orderstatus", True, 0),
            col_sql("o_totalprice", False, 8),
            col_sql("o_orderpriority", True, 0),
        ]
    )
    raw = (
        f"{M.w_ndv_ratio} * ndv_ratio + {M.w_log_n} * log_n + "
        f"{M.w_null_ratio} * null_ratio + {M.w_log_avg_bytes} * log_avg_bytes + "
        f"{M.bias}"
    )
    return f"""
    WITH prof AS ({prof})
    SELECT col,
           FLOOR(({raw}) * 1000000 + 0.5) / 1000000 AS score,
           FLOOR(({raw}) * 1000000 + 0.5) / 1000000 > 0 AS dict_on
    FROM prof
    """


@register(
    "q_learned_encoding_policy",
    oracle=_learned_oracle(),
    category="encoding",
)
def q_learned_encoding_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned encoding selection (LearnedEncodingSelectionPolicy,
    encodings/selection/EncodingSelectionPolicy.h:339-365): an
    offline-trained linear model over the profile statistics predicts
    per-column whether dictionary encoding shrinks the column. The
    differential check is real: the oracle recomputes the exact
    feature statistics AND the fixed-order model arithmetic in SQL —
    any drift in the profile pass or the scoring flips the hash. The
    weights are validated against MEASURED write-both-ways outcomes in
    tests/test_learned_encoding.py."""
    import math

    from nimble_spark.sources.encoding_policy import (
        DEFAULT_ENCODING_MODEL,
        profile_columns,
    )

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    df = load(spark, sf_dir, "orders").select(*cols)
    profiles = profile_columns(df, approx=False)
    rows = []
    for name in cols:
        s = DEFAULT_ENCODING_MODEL.score(profiles[name])
        s = math.floor(s * 1000000 + 0.5) / 1000000
        rows.append((name, s, s > 0))
    return spark.createDataFrame(rows, "col STRING, score DOUBLE, dict_on BOOLEAN")


@register(
    "q_serve_lookups",
    oracle="""
    WITH req AS (
      SELECT * FROM (VALUES (1, 1), (2, 2), (3, 7), (4, 999999999))
        AS v(request_id, k)
    )
    SELECT CAST(r.request_id AS BIGINT) AS request_id,
           COUNT(o.o_orderkey) AS n_rows,
           FLOOR(COALESCE(SUM(o.o_totalprice), 0) * 10000 + 0.5) / 10000 AS total
    FROM req r LEFT JOIN orders o ON o.o_orderkey = r.k
    GROUP BY r.request_id
    """,
    category="lifecycle",
)
def q_serve_lookups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched index-lookup serving, full transport loop
    (NimbleIndexProjector analogue): a 4-request batch (3 present
    keys, 1 absent) probes a cluster-indexed orders table;
    ``serve_lookups`` prunes the scan by the batch's distinct keys and,
    since the batch is far below its cap, reads the hits and encodes
    each request's projected rows as ONE Arrow IPC payload on the
    driver. The payloads are then decoded back (mapInPandas,
    executor-side) and aggregated — proving the bytes on the wire
    carry exactly the index-located rows. Absent keys round-trip as
    n_rows=0 / total=0."""
    import pandas as pd
    import pyarrow as pa

    from nimble_spark.sources.serde import serve_lookups

    def _build(tmp: str) -> None:
        write_table(
            _orders(spark, sf_dir), tmp, WriteOptions(cluster_by=["o_orderkey"])
        )

    path = ensure_cached(sf_dir, "orders__serve_cluster", ["orders"], _build)
    reqs = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 7), (4, 999999999)],
        "request_id LONG, o_orderkey LONG",
    )
    served = serve_lookups(spark, path, reqs, "o_orderkey", ["o_totalprice"])

    def _decode(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                with pa.ipc.open_stream(io.BytesIO(bytes(r["payload"]))) as rd:
                    tbl = rd.read_all()
                tot = (
                    float(tbl.column("o_totalprice").to_pandas().sum())
                    if tbl.num_rows
                    else 0.0
                )
                out.append((int(r["request_id"]), int(r["n_rows"]), tot))
            yield pd.DataFrame(out, columns=["request_id", "n_rows", "total"])

    decoded = served.mapInPandas(_decode, "request_id long, n_rows long, total double")
    return decoded.select("request_id", "n_rows", rnd(F.col("total")).alias("total"))


@register(
    "q_partitioned_merge",
    oracle=f"""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 100 = 7 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, 'X', 1.0
      FROM orders WHERE o_orderkey % 100 = 7
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           {dsum_sql("o_totalprice")} AS total,
           1 AS layout_ok
    FROM merged GROUP BY 1
    """,
    category="lifecycle",
)
def q_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-preserving MERGE on a Hive-partitioned table (Delta
    partitioned-MERGE analogue; sources/merge.py): orders is stored
    partitioned by o_orderstatus; the source updates every key
    ending in 07 (price doubled, partition unchanged) and inserts
    shifted keys into a brand-new 'X' partition. File-granular
    copy-on-write: only files holding matched keys rewrite, and every
    rewritten/inserted row lands under its partition directory — the
    in-query ``layout_ok`` literal proves from the manifest that the
    post-merge layout is still 100% directory-shaped (partition
    pruning stays exact at any scale)."""
    from nimble_spark.sources.merge import merge_into

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        write_table(o, tmp, WriteOptions(partition_by=["o_orderstatus"]))
        src = o.filter("o_orderkey % 100 = 7").select(
            "o_orderkey", "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ).unionByName(
            o.filter("o_orderkey % 100 = 7").select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit("X").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
        merge_into(spark, tmp, src, key="o_orderkey")

    path = ensure_cached(sf_dir, "orders__part_merged", ["orders"], _build)
    m = read_manifest(path)
    layout_ok = int(
        all(f["path"].startswith("o_orderstatus=") for f in m["files"])
        and m["commits"][-1]["mode"] == "merge"
    )
    return (
        read_table(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
            F.lit(layout_ok).cast("int").alias("layout_ok"),
        )
    )


@register(
    "q_partitioned_compaction",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value")} AS total_v,
           1 AS compacted
    FROM events GROUP BY 1
    """,
    category="lifecycle",
)
def q_partitioned_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-directory compaction of a Hive-partitioned table (the
    OPTIMIZE primitive where the directory IS the index): events is
    written partitioned by event_type, then three small appends pile
    per-partition small-file debt; compact_table merges WITHIN each
    partition directory (bins never cross one — plan_compaction
    groups by directory), so every partition-pruning path stays
    exactly as selective over fewer files. The in-query ``compacted``
    literal proves from the manifest that files shrank, the layout
    stayed directory-shaped, and the compaction commit is
    data_change=false (CDC consumers never re-see the table because
    bytes moved)."""
    from nimble_spark.sources.compaction import compact_table

    def _build(tmp: str) -> None:
        e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
        write_table(
            e.filter("event_id % 5 != 0"), tmp, WriteOptions(partition_by=["event_type"])
        )
        for i in range(3):
            write_table(
                e.filter(f"event_id % 5 = 0 AND event_id % 3 = {i}"),
                tmp,
                WriteOptions(partition_by=["event_type"]),
                mode="append",
            )
        compact_table(spark, tmp, target_file_bytes=256 * 1024 * 1024)

    path = ensure_cached(sf_dir, "events__part_compacted", ["events"], _build)
    m = read_manifest(path)
    before = int(m.get("user_metadata", {}).get("compaction.files_before", "0"))
    last = m["commits"][-1]
    compacted = int(
        0 < len(m["files"]) < before
        and all(f["path"].startswith("event_type=") for f in m["files"])
        and last["mode"] == "compact"
        and last.get("data_change") is False
    )
    return (
        read_table(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_v"),
            F.lit(compacted).cast("int").alias("compacted"),
        )
    )


@register(
    "q_recluster_scan",
    oracle=f"""
    SELECT COUNT(*) AS n, {dsum_sql("l_extendedprice")} AS revenue,
           1 AS reclustered_ok
    FROM lineitem WHERE l_orderkey BETWEEN 100 AND 1900
    """,
    category="lifecycle",
)
def q_recluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-health metric + OPTIMIZE-style recluster
    (compaction.py clustering_depth / recluster_table; Delta OPTIMIZE
    ZORDER analogue — the reference's ClusterIndex keeps depth 1 by
    construction, dwio/nimble/index/ClusterIndex.h:76-197). Four
    interleaved clustered writes each re-range only their own rows, so
    every point of the key space is covered by ~4 files
    (clustering_depth ≈ commits, measured from manifest bounds — zero
    IO); recluster_table's one global range shuffle restores disjoint
    ranges. The in-query ``reclustered_ok`` literal proves depth
    collapsed (≥4 → ≤2) and the range scan below prunes over the
    restored index."""
    from nimble_spark.sources.compaction import clustering_depth, recluster_table

    def _write(tmp: str, rows: DataFrame, mode: str = "overwrite") -> None:
        write_table(
            rows, tmp,
            WriteOptions(cluster_by=["l_orderkey"], n_cluster_files=6),
            mode=mode,
        )

    def _build_degraded(tmp: str) -> None:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        _write(tmp, li.filter("l_orderkey % 4 = 0"))
        for i in (1, 2, 3):
            _write(tmp, li.filter(f"l_orderkey % 4 = {i}"), mode="append")

    def _build_reclustered(tmp: str) -> None:
        _build_degraded(tmp)
        recluster_table(spark, tmp, n_files=6)

    deg = ensure_cached(sf_dir, "li__cluster_degraded", ["lineitem"], _build_degraded)
    rec = ensure_cached(sf_dir, "li__reclustered", ["lineitem"], _build_reclustered)
    d0 = clustering_depth(read_manifest(deg))
    d1 = clustering_depth(read_manifest(rec))
    ok = int(d0["max_depth"] >= 4 and d1["max_depth"] <= 2 and d1["avg_depth"] <= 2)
    return read_table(spark, rec, range_scan=("l_orderkey", 100, 1900)).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("revenue"),
        F.lit(ok).cast("int").alias("reclustered_ok"),
    )


@register(
    "q_maintenance_advice",
    oracle="""
    SELECT action FROM (VALUES
      ('compact_deletes'), ('compact_table'),
      ('recluster_table'), ('vacuum_table')
    ) AS t(action)
    """,
    category="tools",
)
def q_maintenance_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance advisor (compaction.py advise_maintenance; SHOW
    MAINTENANCE in the DSL) — the WHEN half of the advisor story
    (plans/advisor.py says how to lay a table out; this says when to
    pay for upkeep), all from driver-side metadata arithmetic with
    zero data IO. The fixture deterministically accumulates all four
    debts: interleaved clustered appends (probe depth 4), small files
    (8 undersized), an UPDATE (retention trash), a delete mask — and
    the advisor must name exactly the four remedies."""
    from nimble_spark.sources.compaction import advise_maintenance
    from nimble_spark.sources.deletes import delete_rows
    from nimble_spark.sources.merge import update_where

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        opts = WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=2)
        write_table(o.filter("o_orderkey % 4 = 0"), tmp, opts)
        for i in (1, 2, 3):
            write_table(o.filter(f"o_orderkey % 4 = {i}"), tmp, opts, mode="append")
        update_where(spark, tmp, "o_orderkey < 50", {"o_totalprice": "o_totalprice"})
        delete_rows(spark, tmp, "o_orderkey", [7])

    path = ensure_cached(sf_dir, "orders__maintenance_debt", ["orders"], _build)
    recs = advise_maintenance(path)
    return spark.createDataFrame(
        [(r["action"],) for r in recs], "action STRING"
    )


@register(
    "q_alter_schema",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
             CAST(NULL AS VARCHAR) AS note
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice, 'hi'
      FROM orders WHERE o_orderkey % 1000 = 1
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           {dsum_sql("price")} AS total,
           COUNT(note) AS n_notes,
           1 AS altered_ok
    FROM t GROUP BY 1
    """,
    category="lifecycle",
)
def q_alter_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only schema evolution (sources/alter.py — the
    reference's schema-by-offset evolution, SchemaTypes.h:109-159,
    as the Iceberg/Delta column-mapping analogue): rename + drop +
    add land as ONE manifest commit with zero data IO (the in-query
    ``altered_ok`` literal proves every pre-alter file byte — path
    AND sha256 — survived verbatim), then an append speaks the NEW
    logical names while files stay physically consistent. The read
    surfaces the logical view: renamed column aggregated, dropped
    column gone, added column null on pre-alter rows and real on
    appended ones — all hash-checked against the oracle."""
    from nimble_spark.sources.alter import alter_table

    def _build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        write_table(o, tmp, WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=4))
        pre = {f["path"]: f["sha256"] for f in read_manifest(tmp)["files"]}
        alter_table(
            tmp,
            rename={"o_totalprice": "price"},
            drop=["o_orderpriority"],
            add={"note": "string"},
        )
        post = {f["path"]: f["sha256"] for f in read_manifest(tmp)["files"]}
        if post != pre:
            raise AssertionError("alter_table moved data bytes")
        extra = o.filter("o_orderkey % 1000 = 1").select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_orderstatus",
            F.col("o_totalprice").alias("price"),
            F.lit("hi").alias("note"),
        )
        write_table(extra, tmp, mode="append")

    path = ensure_cached(sf_dir, "orders__altered", ["orders"], _build)
    m = read_manifest(path)
    altered_ok = int(
        bool(m.get("schema_mapping", {}).get("renames"))
        and any(c["mode"] == "alter" for c in m["commits"])
        and read_table(spark, path).columns
        == ["o_orderkey", "o_orderstatus", "price", "note"]
    )
    return (
        read_table(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("price").alias("total"),
            F.count("note").alias("n_notes"),
            F.lit(altered_ok).cast("int").alias("altered_ok"),
        )
    )


@register(
    "q_auto_maintenance",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {dsum_sql("o_totalprice")} AS total,
           1 AS healthy
    FROM orders WHERE o_orderkey <> 7
    """,
    category="tools",
)
def q_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-OPTIMIZE loop (compaction.run_maintenance; RUN MAINTENANCE
    [VACUUM] in the DSL): the same four-debt fixture as
    q_maintenance_advice (interleaved clustered appends, small files,
    update trash, a delete mask) is handed to the executor, which runs
    the advisor's actions in dependency order, RE-ADVISING between
    steps so it never executes stale advice (the mask compaction's
    full rewrite also heals depth and small files — the loop detects
    that and stops instead of re-shuffling a healthy table). The
    in-query ``healthy`` literal proves the advisor reports nothing
    afterwards and at least one action actually ran; the oracle hash
    proves the maintenance changed no surviving row (the masked key is
    gone, everything else intact)."""
    from nimble_spark.sources.compaction import advise_maintenance, run_maintenance
    from nimble_spark.sources.deletes import delete_rows
    from nimble_spark.sources.merge import update_where

    def _build(tmp: str) -> None:
        o = _orders(spark, sf_dir)
        opts = WriteOptions(cluster_by=["o_orderkey"], n_cluster_files=2)
        write_table(o.filter("o_orderkey % 4 = 0"), tmp, opts)
        for i in (1, 2, 3):
            write_table(o.filter(f"o_orderkey % 4 = {i}"), tmp, opts, mode="append")
        update_where(spark, tmp, "o_orderkey < 50", {"o_totalprice": "o_totalprice"})
        delete_rows(spark, tmp, "o_orderkey", [7])
        ran = run_maintenance(spark, tmp, vacuum=True, min_age_s=0.0)
        if not ran:
            raise AssertionError("maintenance fixture produced no advised action")

    path = ensure_cached(sf_dir, "orders__auto_maintained", ["orders"], _build)
    healthy = int(not advise_maintenance(path))
    return read_table(spark, path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total"),
        F.lit(healthy).cast("int").alias("healthy"),
    )


@register(
    "q_incremental_recluster",
    oracle=f"""
    WITH t AS (
      SELECT l_orderkey, l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_extendedprice FROM lineitem
      WHERE l_orderkey <= (SELECT MAX(l_orderkey) // 4 FROM lineitem)
    )
    SELECT COUNT(*) AS n,
           {dsum_sql("l_extendedprice")} AS revenue,
           1 AS partial_ok
    FROM t WHERE l_orderkey BETWEEN 500 AND 2500
    """,
    category="tools",
)
def q_incremental_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (partial) recluster — the 100 TB steady-state
    OPTIMIZE path (compaction.py plan_recluster / recluster_table
    incremental=True): a narrow append overlaps only the files
    covering its key range, so ONLY that overlap component is
    re-ranged; every already-disjoint file passes through the commit
    untouched, history/tags/delete-masks are KEPT (data_change=false
    commit, unlike the full rewrite which resets history), and cost
    scales with the overlap debt, not table size. The in-query
    ``partial_ok`` literal proves all of it from the cached table's
    manifest: a 'recluster' commit that removed FEWER files than the
    table had (partial), depth restored ≤ 2, and data_change=false.
    The range scan spans both rewritten and untouched key space, so
    the oracle hash also proves the rewrite moved no rows."""
    from nimble_spark.sources.compaction import clustering_depth, recluster_table

    def _build(tmp: str) -> None:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        write_table(
            li, tmp, WriteOptions(cluster_by=["l_orderkey"], n_cluster_files=8)
        )
        # The narrow append must stay narrow at EVERY scale factor for
        # the "partial" invariant below to be provable: a fixed key
        # constant covers the whole table at sf0.001 (max l_orderkey
        # 1499 there), making the overlap component ALL files and the
        # rewrite legitimately total. Quarter-of-max keeps the append
        # overlapping ~2 of the 8 base files at any SF; the oracle
        # computes the identical integer threshold in SQL.
        thr = li.agg(F.max("l_orderkey")).collect()[0][0] // 4
        write_table(
            li.filter(F.col("l_orderkey") <= thr), tmp,
            WriteOptions(cluster_by=["l_orderkey"], n_cluster_files=1),
            mode="append",
        )
        recluster_table(spark, tmp, incremental=True)

    rec = ensure_cached(sf_dir, "li__increcluster_rel", ["lineitem"], _build)
    m = read_manifest(rec)
    c = m["commits"][-1]
    files_before = len(m["files"]) - c["files_added"] + c["files_removed"]
    d = clustering_depth(m)
    ok = int(
        c["mode"] == "recluster"
        and c["data_change"] is False
        and 0 < c["files_removed"] < files_before
        and d["max_depth"] <= 2
    )
    return read_table(
        spark, rec, range_scan=("l_orderkey", 500, 2500)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("revenue"),
        F.lit(ok).cast("int").alias("partial_ok"),
    )
