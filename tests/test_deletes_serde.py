"""Delete-mask-at-scan + Arrow serde tests (the reference's Mutation
surface, dwio/nimble/velox/selective/SelectiveNimbleReader.cpp:334-338,
and Serializer/Deserializer, dwio/nimble/serializer/Serializer.h:33-56)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nimble_spark.sources.deletes import delete_rows, read_with_deletes
from nimble_spark.sources.serde import deserialize, serialize, serialize_partitioned
from nimble_spark.sources.table import WriteOptions, write_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="nimble_del_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_delete_mask_applied_at_scan(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    path = f"{tmpdir}/nation"
    write_table(src, path, WriteOptions())
    n0 = src.count()
    delete_rows(spark, path, "n_nationkey", [0, 1, 2])
    got = read_with_deletes(spark, path)
    assert got.count() == n0 - 3
    assert got.filter(F.col("n_nationkey").isin([0, 1, 2])).count() == 0
    # data files untouched: a plain scan still sees every row
    assert spark.read.parquet(path).count() == n0


def test_deletes_compose_across_commits(spark, tmpdir):
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    path = f"{tmpdir}/region"
    write_table(src, path, WriteOptions())
    delete_rows(spark, path, "r_name", ["AFRICA"])
    delete_rows(spark, path, "r_name", ["ASIA", "AFRICA"])  # overlap ok
    got = read_with_deletes(spark, path)
    names = {r[0] for r in got.select("r_name").collect()}
    assert "AFRICA" not in names and "ASIA" not in names
    assert got.count() == src.count() - 2


def test_serde_roundtrip(spark):
    src = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    payload = serialize(src)
    assert isinstance(payload, bytes) and len(payload) > 0
    back = deserialize(spark, payload)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_serde_partitioned_distributed(spark):
    src = spark.read.parquet(f"{SF_SMALL}/nation.parquet").repartition(4)
    out = serialize_partitioned(src).collect()
    assert sum(r["n_rows"] for r in out) == src.count()
    # each payload is a self-contained Arrow stream
    import io

    import pyarrow as pa

    total = 0
    for r in out:
        with pa.ipc.open_stream(io.BytesIO(bytes(r["payload"]))) as rd:
            total += rd.read_all().num_rows
    assert total == src.count()


def test_serve_lookups_batched_index_projection(spark, tmpdir):
    """serve_lookups: a BATCH of point-lookup requests against a
    cluster-indexed table returns one Arrow IPC payload per request;
    missing keys come back n_rows=0."""
    import pyarrow as pa
    import io as _io

    from nimble_spark.sources.serde import serve_lookups
    from nimble_spark.sources.table import WriteOptions, write_table

    path = f"{tmpdir}/serve"
    df = spark.range(1000).selectExpr("id AS k", "id * 7 AS v", "CAST(id AS STRING) AS s")
    write_table(df, path, WriteOptions(cluster_by=["k"], n_cluster_files=4))

    reqs = spark.createDataFrame(
        [(1, 10), (2, 500), (3, 999), (4, 123456)], "request_id LONG, k LONG"
    )
    out = {r["request_id"]: r for r in serve_lookups(spark, path, reqs, "k", ["v", "s"]).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[4]["n_rows"] == 0
    for rid, want_k in [(1, 10), (2, 500), (3, 999)]:
        assert out[rid]["n_rows"] == 1
        with pa.ipc.open_stream(_io.BytesIO(out[rid]["payload"])) as rd:
            tbl = rd.read_all()
        assert tbl.column("k").to_pylist() == [want_k]
        assert tbl.column("v").to_pylist() == [want_k * 7]
        assert tbl.column("s").to_pylist() == [str(want_k)]


def test_serve_lookups_multi_row_requests_roundtrip(spark, tmpdir):
    """r11: every payload must carry ALL of its request's rows exactly
    once even when requests match many rows and the Python boundary
    streams tiny Arrow batches (2-row batches over 5-row groups). The
    cap of 40 fits the 40 keys but not the 200 hit rows, so the batch
    takes the executor-side encode, where those batches arise."""
    import io as _io

    import pyarrow as pa

    from nimble_spark.sources.serde import serve_lookups
    from nimble_spark.sources.table import WriteOptions, write_table

    path = f"{tmpdir}/serve_carry"
    # 5 rows per key so every request group spans multiple 2-row batches
    df = spark.range(200).selectExpr("id % 40 AS k", "id AS v")
    write_table(df, path, WriteOptions(cluster_by=["k"], n_cluster_files=2))
    reqs = spark.range(40).selectExpr("id AS request_id", "id AS k")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = {
            r["request_id"]: r
            for r in serve_lookups(spark, path, reqs, "k", ["v"], max_batch_keys=40).collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert set(got) == set(range(40))
    for rid in range(40):
        assert got[rid]["n_rows"] == 5, got[rid]
        with pa.ipc.open_stream(_io.BytesIO(got[rid]["payload"])) as rd:
            tbl = rd.read_all()
        assert sorted(tbl.column("v").to_pylist()) == sorted(
            range(rid, 200, 40)
        )


def test_serve_lookups_batch_cap_enforced(spark, tmpdir):
    """r6 (VERDICT): the request-batch contract is ENFORCED — an
    oversized batch raises instead of collecting unbounded keys at the
    driver; the probe itself is limit(cap+1)-bounded."""
    import pytest

    from nimble_spark.sources.serde import serve_lookups
    from nimble_spark.sources.table import WriteOptions, write_table

    path = f"{tmpdir}/serve_cap"
    df = spark.range(100).selectExpr("id AS k", "id * 7 AS v")
    write_table(df, path, WriteOptions(cluster_by=["k"], n_cluster_files=2))

    reqs = spark.range(50).selectExpr("id AS request_id", "id AS k")
    with pytest.raises(ValueError, match="distinct keys"):
        serve_lookups(spark, path, reqs, "k", ["v"], max_batch_keys=10)
    # at the cap: fine
    assert serve_lookups(spark, path, reqs, "k", ["v"], max_batch_keys=50).count() == 50


@pytest.mark.parametrize(
    "reqs,want",
    [
        ([], {}),
        ([(1, None)], {1: 0}),
        ([(1, None), (2, 5), (3, None)], {1: 0, 2: 1, 3: 0}),
    ],
    ids=["empty_batch", "only_null_key", "null_keys_among_hits"],
)
def test_serve_lookups_empty_batch_and_null_keys(spark, tmpdir, reqs, want):
    """An empty batch serves an empty frame; a null-key request
    matches nothing (SQL IN semantics) and returns n_rows=0 with an
    empty payload of the projected schema."""
    import io as _io

    import pyarrow as pa

    from nimble_spark.sources.serde import serve_lookups

    path = f"{tmpdir}/serve_nulls"
    if not os.path.exists(path):
        df = spark.range(100).selectExpr("id AS k", "id * 7 AS v")
        write_table(df, path, WriteOptions(cluster_by=["k"], n_cluster_files=2))
    req = spark.createDataFrame(reqs, "request_id LONG, k LONG")
    got = {r["request_id"]: r for r in serve_lookups(spark, path, req, "k", ["v"]).collect()}
    assert {rid: r["n_rows"] for rid, r in got.items()} == want
    for rid, r in got.items():
        with pa.ipc.open_stream(_io.BytesIO(r["payload"])) as rd:
            tbl = rd.read_all()
        assert tbl.column_names == ["k", "v"] and tbl.num_rows == want[rid]
