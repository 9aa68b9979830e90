"""serve_lookups has two paths: a batch whose request rows and hit rows
fit ``max_batch_keys`` is read and encoded on the driver, anything
larger joins and encodes executor-side. This seeded fuzz serves each
batch through both (the distributed one forced by a cap that the
batch's distinct keys fit but its request rows or hit rows do not)
and checks that they agree with each other and with a plain
``read_table`` of the same table."""

from __future__ import annotations

import io
import random
import shutil
import tempfile

import pyarrow as pa
import pytest

from nimble_spark.plans.audit import plan_string
from nimble_spark.sources.alter import alter_table
from nimble_spark.sources.serde import serve_lookups
from nimble_spark.sources.table import WriteOptions, read_manifest, read_table, write_table

# 300 rows over keys 0..39; key 3 holds 105 rows. v and s carry nulls.
_ROWS = (
    "CASE WHEN id < 200 THEN id % 40 ELSE 3 END AS k",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS v",
    "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s",
)
HOT_KEY = 3


def _cluster(spark, path):
    write_table(spark.range(300).selectExpr(*_ROWS), path, WriteOptions(cluster_by=["k"], n_cluster_files=4))
    return "k", ["v", "s"]


def _renamed(spark, path):
    _cluster(spark, path)
    alter_table(path, rename={"v": "value"})
    return "k", ["value", "s"]


def _alias(spark, path):
    src = spark.range(300).selectExpr(*_ROWS).selectExpr("*", "k AS k2", "v AS v2")
    write_table(src, path, WriteOptions(cluster_by=["k"], n_cluster_files=4, dedup_columns=True))
    assert {"k2", "v2"} <= set(read_manifest(path)["column_aliases"])
    return "k2", ["v2", "s"]


def _bucketed(spark, path):
    write_table(spark.range(300).selectExpr(*_ROWS), path, WriteOptions(bucket_by="k", n_buckets=4))
    return "k", ["v", "s"]


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


def _decode(df) -> dict:
    out = {}
    for r in df.collect():
        with pa.ipc.open_stream(io.BytesIO(r["payload"])) as rd:
            tbl = rd.read_all()
        assert r["n_rows"] == tbl.num_rows
        assert b"pandas" not in (tbl.schema.metadata or {})
        out[r["request_id"]] = (
            [(f.name, f.type) for f in tbl.schema],
            sorted(tbl.to_pylist(), key=repr),
        )
    return out


@pytest.mark.parametrize(
    "build,seed,force",
    [
        (_cluster, 1, "requests"),
        (_renamed, 2, "hits"),
        (_alias, 3, "requests"),
        (_bucketed, 4, "hits"),
    ],
    ids=["cluster", "renamed", "alias", "bucketed"],
)
def test_serve_paths_agree(spark, tmpdir, build, seed, force):
    path = f"{tmpdir}/{build.__name__}"
    key, cols = build(spark, path)
    proj = [key, *cols]
    rows = _batch(random.Random(seed))
    req = spark.createDataFrame(rows, f"request_id LONG, {key} LONG")
    n_keys = len({k for _, k in rows if k is not None})
    # both caps fit the distinct keys; "requests" is below the request
    # rows, "hits" below the hot key's 105 rows
    cap = n_keys if force == "requests" else len(rows)
    assert n_keys <= cap < max(len(rows), 105)

    local = serve_lookups(spark, path, req, key, cols)
    dist = serve_lookups(spark, path, req, key, cols, max_batch_keys=cap)
    assert "LocalTableScan" in plan_string(local, execute=False)
    assert "FlatMapGroupsInArrow" in plan_string(dist, execute=False)
    got_local, got_dist = _decode(local), _decode(dist)
    assert got_local == got_dist

    table = [r.asDict() for r in read_table(spark, path, columns=proj).collect()]
    want: dict = {}
    for rid, k in rows:
        want.setdefault(rid, []).extend(r for r in table if k is not None and r[key] == k)
    assert {rid: rs for rid, (_, rs) in got_local.items()} == {
        rid: sorted(rs, key=repr) for rid, rs in want.items()
    }
    schema = got_local[rows[0][0]][0]
    assert [n for n, _ in schema] == proj
    # integer columns with nulls stay integers
    assert all(pa.types.is_int64(t) for n, t in schema if n != "s")
