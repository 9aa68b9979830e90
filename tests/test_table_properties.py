"""Table properties (TBLPROPERTIES analogue) — r9.

Free-form string pairs plus the reserved ``nimble.*`` engine knobs,
committed through either discipline (table lock or the lock-free CAS
publish), surfaced through the DSL, and — for the reserved keys —
actually consumed by the engine (vacuum retention)."""

from __future__ import annotations

import os
import time

import pytest

from nimble_spark.sources.compaction import vacuum_table
from nimble_spark.sources.table import (
    WriteOptions,
    set_table_property,
    table_properties,
    unset_table_property,
    write_table,
)


@pytest.fixture
def tbl(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark.range(0, 20).selectExpr("id AS k"), path, WriteOptions())
    return path


def test_set_get_unset_roundtrip(tbl):
    # CAS first: the first root mutation stamps the table's commit
    # discipline (r10); subsequent lock-API calls auto-route to it
    set_table_property(tbl, "team.contact", "row-crew", optimistic=True)
    set_table_property(tbl, "owner", "data-eng")
    assert table_properties(tbl) == {
        "owner": "data-eng", "team.contact": "row-crew",
        "nimble.commit.root_discipline": "cas",
    }
    set_table_property(tbl, "owner", "ml-infra")  # overwrite
    assert table_properties(tbl)["owner"] == "ml-infra"
    unset_table_property(tbl, "team.contact", optimistic=True)
    assert table_properties(tbl) == {
        "owner": "ml-infra", "nimble.commit.root_discipline": "cas",
    }
    with pytest.raises(ValueError, match="no property"):
        unset_table_property(tbl, "team.contact")


def test_reserved_namespace_typo_refuses(tbl):
    """A nimble.* key the engine doesn't consume is a typo that would
    silently configure nothing — refuse loudly."""
    with pytest.raises(ValueError, match="unknown reserved"):
        set_table_property(tbl, "nimble.vacum.min_age_s", "0")
    with pytest.raises(ValueError, match="strings"):
        set_table_property(tbl, "owner", 42)  # type: ignore[arg-type]


def test_vacuum_retention_property_is_consumed(tbl):
    """The functional knob: fresh debris survives an argument-less
    vacuum under the 600 s default grace, and is reclaimed once the
    table carries nimble.vacuum.min_age_s='0'. An explicit argument
    still wins over the property."""
    debris = os.path.join(tbl, "zz-debris.parquet")
    with open(debris, "wb") as fh:
        fh.write(b"junk")
    assert vacuum_table(tbl) == []  # default grace: too fresh
    set_table_property(tbl, "nimble.vacuum.min_age_s", "0")
    with open(debris, "wb") as fh:
        fh.write(b"junk")
    assert vacuum_table(tbl) == ["zz-debris.parquet"]  # property-driven
    # explicit argument overrides the property
    set_table_property(tbl, "nimble.vacuum.min_age_s", "99999")
    with open(debris, "wb") as fh:
        fh.write(b"junk")
    old = time.time() - 10
    os.utime(debris, (old, old))
    assert vacuum_table(tbl, min_age_s=0.0) == ["zz-debris.parquet"]


def test_properties_on_sharded_manifest_rewrite(spark, tmp_path, monkeypatch):
    """Sharded root: the property carry across a full rewrite must be
    a ROOT-ONLY republish (pages reused, file entries intact) — a
    naive repagination-with-missing-files would publish an empty
    table."""
    import nimble_spark.sources.table as tblmod
    from nimble_spark.sources.deletes import compact_deletes, delete_rows
    from nimble_spark.sources.table import read_table

    monkeypatch.setattr(tblmod, "SHARD_FILE_THRESHOLD", 2)
    monkeypatch.setattr(tblmod, "MANIFEST_PAGE_SIZE", 2)
    path = str(tmp_path / "sh")
    write_table(spark.range(0, 30).selectExpr("id AS k"), path, WriteOptions())
    write_table(
        spark.range(30, 60).selectExpr("id AS k"), path, WriteOptions(),
        mode="append",
    )
    set_table_property(path, "owner", "data-eng")
    assert read_table(spark, path).count() == 60
    delete_rows(spark, path, "k", [1])
    compact_deletes(spark, path)
    assert table_properties(path).get("owner") == "data-eng"
    assert read_table(spark, path).count() == 59  # entries survived


def test_maintenance_knob_properties_consumed(spark, tmp_path):
    """r9: run_maintenance's None defaults resolve from the table's
    reserved properties — with nimble.compact.target_file_bytes=1 the
    small files are no longer 'small' and the compact step is skipped;
    with the default (128 MiB) it runs."""
    from nimble_spark.sources.compaction import run_maintenance

    def _mk(name):
        p = str(tmp_path / name)
        for i in range(4):  # four small files
            write_table(
                spark.range(i * 10, (i + 1) * 10).coalesce(1).selectExpr("id AS k"),
                p, WriteOptions(), mode="append" if i else "overwrite",
            )
        return p

    a = _mk("a")
    done = run_maintenance(spark, a)  # property-less: default target
    assert any(d["action"] == "compact_table" for d in done), done

    b = _mk("b")
    set_table_property(b, "nimble.compact.target_file_bytes", "1")
    done = run_maintenance(spark, b)  # 1-byte target: nothing is small
    assert not any(d["action"] == "compact_table" for d in done), done


def test_dsl_properties_surface(spark, tbl):
    from nimble_spark.tools import run_command

    run_command(spark, tbl, "SET PROPERTY owner = 'data-eng'")
    run_command(spark, tbl, "SET PROPERTY nimble.vacuum.min_age_s = 0")
    rows = {
        r["key"]: r["value"]
        for r in run_command(spark, tbl, "SHOW PROPERTIES").collect()
    }
    assert rows == {
        "owner": "data-eng",
        "nimble.vacuum.min_age_s": "0",
        # the first SET stamped the commit discipline (r10) — visible
        # in the bag by design, like any Iceberg reserved property
        "nimble.commit.root_discipline": "lock",
    }
    run_command(spark, tbl, "UNSET PROPERTY owner")
    assert run_command(spark, tbl, "SHOW PROPERTIES").count() == 2


def _append_rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "id * 10 AS v", "CAST(id % 3 AS STRING) AS tag"
    )


def _commit_path(spark, path, name):
    """Run one data-commit path on the carry-matrix table."""
    from nimble_spark.sources.alter import alter_table
    from nimble_spark.sources.compaction import compact_table, recluster_table
    from nimble_spark.sources.datasource import register_nimble_source
    from nimble_spark.sources.deletes import compact_deletes, delete_rows
    from nimble_spark.sources.merge import merge_into, update_where
    from nimble_spark.sources.table import rollback_table

    if name == "append":
        write_table(_append_rows(spark, 60, 70), path, WriteOptions(), mode="append")
    elif name == "pyds_append":
        register_nimble_source(spark)
        _append_rows(spark, 60, 70).write.format("nimble").mode("append").save(path)
    elif name == "merge_into":
        merge_into(spark, path, _append_rows(spark, 55, 65), "k")
    elif name == "update_where":
        update_where(spark, path, "k = 3", {"v": "v + 1"})
    elif name == "delete_rows":
        delete_rows(spark, path, "k", [5, 6])
    elif name == "compact_table":
        compact_table(spark, path, target_file_bytes=1 << 30)
    elif name == "recluster_incremental":
        recluster_table(spark, path, incremental=True)
    elif name == "recluster_full":
        recluster_table(spark, path)
    elif name == "compact_deletes":
        delete_rows(spark, path, "k", [5, 6])
        compact_deletes(spark, path)
    elif name == "rollback_table":
        rollback_table(spark, path, commit=0)
    elif name == "alter_table":
        alter_table(path, add={"extra": "int"})
    elif name == "overwrite":
        write_table(_append_rows(spark, 0, 10), path, WriteOptions())


# path → how it commits: "commit" logs one entry on the kept history,
# "none" publishes no manifest, "rewrite" is a full rewrite (history
# resets, the rewrite re-declares the table's layout and contracts),
# "overwrite" a new table under the old one's descriptive keys
_COMMIT_PATHS = {
    "append": "commit",
    "pyds_append": "commit",
    "merge_into": "commit",
    "update_where": "commit",
    "delete_rows": "none",
    "compact_table": "commit",
    "recluster_incremental": "commit",
    "recluster_full": "rewrite",
    "compact_deletes": "rewrite",
    "rollback_table": "commit",
    "alter_table": "commit",
    "overwrite": "overwrite",
}


@pytest.mark.parametrize("name", list(_COMMIT_PATHS))
def test_properties_survive_data_commits(spark, tmp_path, name):
    """Every table-level manifest key carries through every data
    commit path: user metadata, column attributes, CHECK constraints,
    properties, tags, the stats-shaped indexes and the synopsis
    declarations. Only an overwrite or a full rewrite resets history
    (the commit log and tags); a full rewrite still keeps every other
    key, and an overwrite keeps the descriptive ones (properties, user
    metadata, column attributes)."""
    from nimble_spark.sources.table import read_manifest, tag_commit

    path = str(tmp_path / "t")
    declared = WriteOptions(
        cluster_by=["k"],
        n_cluster_files=2,
        bloom_cols=["tag"],
        user_metadata={"owner": "team-a"},
        column_attributes={"k": {"iceberg.field-id": "1"}},
        check_constraints={"k_nonneg": "k >= 0"},
        ndv_columns=["tag"],
        sum_columns=["v"],
        histogram_columns=["tag"],
    )
    write_table(_append_rows(spark, 0, 40), path, declared)
    tag_commit(path, "v1")
    # a second commit, overlapping the first's key range (rollback and
    # the incremental recluster need one)
    write_table(_append_rows(spark, 20, 60), path, declared, mode="append")
    set_table_property(path, "owner", "data-eng")
    before = read_manifest(path)
    assert before["column_attributes"] == declared.column_attributes

    _commit_path(spark, path, name)

    after = read_manifest(path)
    kind = _COMMIT_PATHS[name]
    descriptive = ("properties", "column_attributes")
    contracts = ("constraints", "ndv_columns", "sum_columns", "histogram_columns")
    for key in descriptive + (contracts if kind != "overwrite" else ()):
        assert after.get(key) == before[key], f"{name} changed {key}"
    # maintenance commits add their own user-metadata keys; none drops one
    assert before["user_metadata"].items() <= after["user_metadata"].items(), name
    if kind != "overwrite":
        for idx in ("cluster", "bloom"):
            assert after["indexes"][idx] == before["indexes"][idx], f"{name} lost {idx}"
    if kind in ("rewrite", "overwrite"):
        assert "tags" not in after and [c["commit"] for c in after["commits"]] == [0]
    else:
        assert after["tags"] == {"v1": 0}, name
        grew = 0 if kind == "none" else 1
        assert after["commits"][: len(before["commits"])] == before["commits"]
        assert len(after["commits"]) == len(before["commits"]) + grew, name
