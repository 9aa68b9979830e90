"""serve_lookups has three ways to serve a batch. A batch whose request
rows and hit rows fit ``max_batch_keys`` is encoded on the driver, its
hits read either in-process with the package's Arrow file reader (while
the kept files fit ``spark.sql.autoBroadcastJoinThreshold``) or by one
Spark read; anything larger joins and encodes executor-side. This
seeded fuzz serves each batch all three ways (the Spark read forced by
turning the threshold off, the distributed path by a cap that the
batch's distinct keys fit but its request rows or hit rows do not) and
checks that they agree with each other and with a plain ``read_table``
of the same table, over every index and schema shape the driver read
handles."""

from __future__ import annotations

import contextlib
import io
import random
import shutil
import tempfile
import uuid

import pyarrow as pa
import pytest

from nimble_spark.plans.audit import plan_string
from nimble_spark.sources.alter import alter_table
from nimble_spark.sources.bloom import build_bloom_sidecar
from nimble_spark.sources.serde import serve_lookups
from nimble_spark.sources.table import (
    WriteOptions,
    _point_lookup_entries,
    create_sorted_index,
    read_manifest,
    read_table,
    write_table,
)

# 300 rows over keys 0..39; key 3 holds 105 rows. v and s carry nulls.
_ROWS = (
    "CASE WHEN id < 200 THEN id % 40 ELSE 3 END AS k",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS v",
    "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s",
)
HOT_KEY = 3
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _rows(spark):
    return spark.range(300).selectExpr(*_ROWS)


def _assert_pruned(spark, path):
    """The layout's index keeps fewer files than the table has."""
    m = read_manifest(path)
    assert len(_point_lookup_entries(spark, path, m, "k", [HOT_KEY])[1]) < len(m["files"])


def _cluster(spark, path):
    write_table(_rows(spark), path, WriteOptions(cluster_by=["k"], n_cluster_files=4))
    return "k", ["v", "s"]


def _renamed(spark, path):
    _cluster(spark, path)
    alter_table(path, rename={"v": "value"})
    return "k", ["value", "s"]


def _alias(spark, path):
    src = _rows(spark).selectExpr("*", "k AS k2", "v AS v2")
    write_table(src, path, WriteOptions(cluster_by=["k"], n_cluster_files=4, dedup_columns=True))
    assert {"k2", "v2"} <= set(read_manifest(path)["column_aliases"])
    return "k2", ["v2", "s"]


def _bucketed(spark, path):
    write_table(_rows(spark), path, WriteOptions(bucket_by="k", n_buckets=4))
    return "k", ["v", "s"]


def _bloom(spark, path):
    # hash-placed keys: every file's min/max spans the key domain, so
    # only the bloom can skip a file (parquet writes no bloom for a
    # dictionary-encoded column chunk)
    opts = WriteOptions(bloom_cols=["k"], no_dictionary_cols=["k"])
    write_table(_rows(spark).repartition(4, "k"), path, opts)
    build_bloom_sidecar(spark, path, "k")
    _assert_pruned(spark, path)
    return "k", ["v", "s"]


def _sorted(spark, path):
    write_table(_rows(spark).repartition(4, "k"), path, WriteOptions())
    create_sorted_index(spark, path, "k")
    _assert_pruned(spark, path)
    return "k", ["v", "s"]


def _partitioned(spark, path):
    # a STRING partition key whose values look numeric: '01' must not
    # come back as 1
    src = _rows(spark).selectExpr("*", "LPAD(CAST(v % 3 AS STRING), 2, '0') AS p")
    write_table(src, path, WriteOptions(partition_by=["p"]))
    return "k", ["v", "p"]


def _evolved(spark, path):
    # old files store v as INT and lack w; the appended ones hold both
    src = _rows(spark).selectExpr("k", "CAST(v AS INT) AS v", "s")
    write_table(src, path, WriteOptions())
    alter_table(path, add={"w": "bigint"}, widen={"v": "bigint"})
    more = spark.range(40).selectExpr("id AS k", "id * 1000 AS v", "'new' AS s", "id AS w")
    write_table(more, path, WriteOptions(), mode="append")
    return "k", ["v", "w", "s"]


def _evolved_added_key(spark, path):
    # serve on the added column: the old files' rows read w as null and
    # must match no request, the null-key ones included
    _evolved(spark, path)
    return "w", ["k", "v"]


def _typed(spark, path):
    src = _rows(spark).selectExpr(
        "k",
        "CASE WHEN v IS NULL THEN NULL ELSE TIMESTAMP_SECONDS(1700000000 + v * 3601) END AS ts",
        "DATE_ADD(DATE'2024-02-28', CAST(COALESCE(v, 0) AS INT)) AS d",
        "CAST(v / 7 AS DECIMAL(12, 2)) AS dec",
    )
    write_table(src, path, WriteOptions(cluster_by=["k"], n_cluster_files=4))
    return "k", ["ts", "d", "dec"]


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="nimble_serve_paths_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch(rng: random.Random) -> list[tuple]:
    """Random requests plus one of each shape the paths must agree on:
    a key shared by two requests, one request listing two keys, one
    listing the same key twice, a null key, a miss and the hot key."""
    pool = list(range(40)) + [1000, 1001, None]
    rows = [(rid, rng.choice(pool)) for rid in range(rng.randint(4, 8))]
    shared, first, second = rng.sample(range(40), 3)
    rid = len(rows)
    rows += [
        (rid, shared), (rid + 1, shared),
        (rid + 2, first), (rid + 2, second),
        (rid + 3, None), (rid + 4, 999_999), (rid + 5, HOT_KEY),
        (rid + 6, first), (rid + 6, first),
    ]
    rng.shuffle(rows)
    return rows


def _arrow_batch(rows, key) -> pa.Table:
    return pa.table(
        {
            "request_id": pa.array([r for r, _ in rows], pa.int64()),
            key: pa.array([k for _, k in rows], pa.int64()),
        }
    )


@contextlib.contextmanager
def _count_jobs(spark):
    """Yields a list that holds, on exit, the number of Spark jobs
    started inside the block."""
    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    n: list = []
    sc.setJobGroup(group, "serve_lookups")
    try:
        yield n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@contextlib.contextmanager
def _threshold(spark, value: str):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _decode(df) -> dict:
    out = {}
    for r in df.collect():
        with pa.ipc.open_stream(io.BytesIO(r["payload"])) as rd:
            tbl = rd.read_all()
        assert r["n_rows"] == tbl.num_rows
        assert b"pandas" not in (tbl.schema.metadata or {})
        out[r["request_id"]] = (tbl.schema, sorted(tbl.to_pylist(), key=repr))
    return out


def _served(spark, path, batch, key, cols, **kw) -> tuple[dict, int]:
    """Decoded payloads of one serve_lookups call and the number of
    Spark jobs building and collecting them took."""
    with _count_jobs(spark) as jobs:
        got = _decode(serve_lookups(spark, path, batch, key, cols, **kw))
    return got, jobs[0]


@pytest.mark.parametrize(
    "build,seed,force,driver_read",
    [
        (_cluster, 1, "requests", True),
        (_renamed, 2, "hits", True),
        (_alias, 3, "requests", True),
        (_bucketed, 4, "hits", False),
        (_bloom, 5, "requests", True),
        (_sorted, 6, "hits", True),
        (_partitioned, 7, "requests", True),
        (_evolved, 8, "hits", True),
        (_evolved_added_key, 11, "requests", True),
        (_typed, 9, "requests", True),
    ],
    ids=[
        "cluster", "renamed", "alias", "bucketed", "bloom", "sorted", "partitioned",
        "evolved", "evolved_added_key", "typed",
    ],
)
def test_serve_paths_agree(spark, tmpdir, build, seed, force, driver_read):
    path = f"{tmpdir}/{build.__name__}"
    key, cols = build(spark, path)
    proj = [key, *cols]
    rows = _batch(random.Random(seed))
    req = spark.createDataFrame(rows, f"request_id LONG, {key} LONG")
    batch = _arrow_batch(rows, key)
    n_keys = len({k for _, k in rows if k is not None})
    # both caps fit the distinct keys; "requests" is below the request
    # rows, "hits" below the hot key's 105 rows
    cap = n_keys if force == "requests" else len(rows)
    assert n_keys <= cap < max(len(rows), 105)

    # an Arrow batch whose hit files are read on the driver starts no
    # Spark job at all; a bucketed table keeps its one Spark read
    got_driver, jobs = _served(spark, path, batch, key, cols)
    assert (jobs == 0) == driver_read, jobs
    with _threshold(spark, "-1"):
        got_spark, jobs = _served(spark, path, batch, key, cols)
    assert jobs >= 1
    local = serve_lookups(spark, path, req, key, cols)
    dist = serve_lookups(spark, path, req, key, cols, max_batch_keys=cap)
    assert "LocalTableScan" in plan_string(local, execute=False)
    assert "FlatMapGroupsInArrow" in plan_string(dist, execute=False)
    got_dist = _decode(dist)
    got_dist_arrow, _ = _served(spark, path, batch, key, cols, max_batch_keys=cap)
    assert got_driver == got_spark == _decode(local) == got_dist == got_dist_arrow

    want_table = read_table(spark, path, columns=proj).toArrow()
    table = want_table.to_pylist()
    want: dict = {}
    for rid, k in rows:
        want.setdefault(rid, []).extend(r for r in table if k is not None and r[key] == k)
    assert {rid: rs for rid, (_, rs) in got_driver.items()} == {
        rid: sorted(rs, key=repr) for rid, rs in want.items()
    }
    # every payload carries the read's own schema (integer columns with
    # nulls stay integers, partition values keep their declared type)
    schema = got_driver[rows[0][0]][0]
    assert schema.names == proj
    assert [f.type for f in schema] == [f.type for f in want_table.schema]


def test_serve_over_threshold_takes_the_spark_read(spark, tmpdir):
    """Kept files whose bytes exceed autoBroadcastJoinThreshold are read
    by Spark, with the same payloads the driver read gives."""
    path = f"{tmpdir}/over_threshold"
    key, cols = _cluster(spark, path)
    batch = _arrow_batch(_batch(random.Random(10)), key)
    below, jobs = _served(spark, path, batch, key, cols)
    assert jobs == 0
    smallest = min(f["bytes"] for f in read_manifest(path)["files"])
    with _threshold(spark, str(smallest - 1)):
        over, jobs = _served(spark, path, batch, key, cols)
    assert jobs >= 1
    assert over == below


def test_sorted_index_under_an_escaped_directory_name(spark, tmpdir):
    """Scan URIs are URL-encoded: the sorted index stores decoded
    root-relative file names, so lookups through it work under a
    directory whose name holds a space, '%', '=' and '+'."""
    path = f"{tmpdir}/a b%20c=d+e/t"
    write_table(_rows(spark).repartition(4, "k"), path, WriteOptions())
    create_sorted_index(spark, path, "k")
    _assert_pruned(spark, path)
    def rows_of(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    got = rows_of(read_table(spark, path, columns=["k", "v"], point_lookup=("k", [7, 30])))
    want = [r for r in rows_of(read_table(spark, path, columns=["k", "v"])) if r[0] in (7, 30)]
    assert got == want and len(want) == 10
    served = _decode(serve_lookups(spark, path, _arrow_batch([(1, 7), (2, 30)], "k"), "k", ["v"]))
    assert sorted(((r["k"], r["v"]) for rid in (1, 2) for r in served[rid][1]), key=repr) == want
