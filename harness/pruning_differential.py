"""Kept-file differential for stats pruning between two checkouts.

Writes a fixed set of tables once, then records, for each checkout,
the files every stats-pruning entry point keeps over an enumerated
predicate set, and compares the two records:

  * ``read_table(range_scan=...)`` and ``read_table(point_lookup=...)``
    (the scan's ``inputFiles()``);
  * ``_point_lookup_entries`` (the sorted / bloom / range tiers);
  * the ``format("nimble")`` pushdown reader's ``partitions()`` for
    every single predicate and a seeded sample of two-predicate
    conjunctions, on plain and sharded manifests.

The tables are the filter-fuzz corpus (clustered by a LONG key, its
sharded twin and a DATE-clustered twin) plus int and string lookup
tables (cluster, sharded, sorted index, bloom sidecar, hash buckets,
zorder). A call that raises is recorded as its exception type.

Usage (``--checkout`` is the package checkout to import; it defaults
to the one holding this script):

    python harness/pruning_differential.py build DIR
    python harness/pruning_differential.py dump DIR OUT.json [--checkout PATH]
    python harness/pruning_differential.py compare A.json B.json
"""

from __future__ import annotations

import argparse
import datetime as dt
import itertools
import json
import os
import random
import sys
from urllib.parse import unquote, urlparse

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FUZZ_ROWS = [
    (k, c, v, d)
    for k in [-5, -1, 0, 1, 3, 3, 7, 12, 19, 20]
    for c, v, d in [
        ("a", 0.5, "2024-01-05"),
        ("abc", -2.25, "2024-02-29"),
        (None, None, None),
        ("", 3.0, "2023-12-31"),
        ("é", 1e9, "2024-01-05"),
    ]
]
_K_VALS = [-100, -5, -1, 0, 3, 7, 12, 19, 20, 25]
_V_VALS = [-2.25, 0.0, 0.5, 3.0, 1e9, -1e18]
_CATS = ["a", "b", "", "é", "zz", "ab"]
_DAYS = [dt.date.fromisoformat(s) for s in ("2023-12-31", "2024-01-05", "2024-02-29", "2024-06-01")]
_S_VALS = ["", "a", "b17", "k05", "k42", "k77", "m", "z", "é"]


def _spark():
    from nimble_spark import get_spark

    return get_spark("pruning_differential")


def build(root: str) -> None:
    """Write every table under ``root`` (one checkout writes them, so
    both dumps see the same files)."""
    import nimble_spark.sources.table as tbl
    from nimble_spark.sources.bloom import build_bloom_sidecar
    from nimble_spark.sources.table import WriteOptions, create_sorted_index, write_table

    spark = _spark()
    rows = [(k, c, v, dt.date.fromisoformat(d) if d else None) for k, c, v, d in _FUZZ_ROWS]
    fuzz = spark.createDataFrame(rows, "k LONG, cat STRING, v DOUBLE, d DATE")
    ints = spark.range(600).selectExpr("id % 97 - 10 AS k", "id AS v")
    strs = spark.range(600).selectExpr("concat('k', lpad(CAST(id % 97 AS STRING), 2, '0')) AS s", "id AS v")
    tables = {
        "fuzz_k": (fuzz, WriteOptions(cluster_by=["k"], n_cluster_files=4), False),
        "fuzz_k_sharded": (fuzz, WriteOptions(cluster_by=["k"], n_cluster_files=4), True),
        "fuzz_d": (fuzz, WriteOptions(cluster_by=["d"], n_cluster_files=4), False),
        "int_cluster": (ints, WriteOptions(cluster_by=["k"], n_cluster_files=8), False),
        "int_sharded": (ints, WriteOptions(cluster_by=["k"], n_cluster_files=8), True),
        "int_sorted": (ints, WriteOptions(cluster_by=["k"], n_cluster_files=4), False),
        "int_bloom": (ints.repartition(4), WriteOptions(bloom_cols=["k"], no_dictionary_cols=["k"]), False),
        "int_hash": (ints, WriteOptions(bucket_by="k", n_buckets=4), False),
        "str_cluster": (strs, WriteOptions(cluster_by=["s"], n_cluster_files=8), False),
        "int_zorder": (ints, WriteOptions(zorder_by=["k", "v"], n_cluster_files=8), False),
    }
    for name, (df, opts, sharded) in tables.items():
        path = os.path.join(root, name)
        old = tbl.SHARD_FILE_THRESHOLD, tbl.MANIFEST_PAGE_SIZE
        if sharded:
            tbl.SHARD_FILE_THRESHOLD, tbl.MANIFEST_PAGE_SIZE = 2, 2
        try:
            write_table(df, path, opts)
        finally:
            tbl.SHARD_FILE_THRESHOLD, tbl.MANIFEST_PAGE_SIZE = old
    create_sorted_index(spark, os.path.join(root, "int_sorted"), "k")
    build_bloom_sidecar(spark, os.path.join(root, "int_bloom"), "k")


def _single_preds(table: str) -> list[tuple]:
    """(column, kind, value) predicates over the table's columns."""
    ops = ["eq", "gt", "ge", "lt", "le"]
    if table.startswith("fuzz"):
        preds = [(c, op, v) for c, vals in (("k", _K_VALS), ("v", _V_VALS), ("d", _DAYS)) for op in ops for v in vals]
        preds += [("k", "in", tuple(p)) for p in itertools.combinations(_K_VALS[::2], 2)]
        preds += [("cat", "eq", c) for c in _CATS] + [("cat", "startswith", c) for c in _CATS if c]
        preds += [("cat", "in", tuple(p)) for p in itertools.combinations(_CATS, 2)]
        preds += [(c, kind, None) for c in ("cat", "v", "d") for kind in ("isnull", "notnull")]
        return preds
    if table.startswith("str"):
        preds = [("s", op, v) for op in ops for v in _S_VALS]
        preds += [("s", "startswith", v) for v in ("k", "k0", "k9", "z")]
        return preds + [("s", "in", tuple(p)) for p in itertools.combinations(_S_VALS[::2], 2)]
    return [("k", op, v) for op in ops for v in (-50, -10, 0, 13, 40, 86, 90)]


def _filter(col: str, kind: str, value):
    from pyspark.sql import datasource as ds

    cls = {
        "eq": ds.EqualTo,
        "gt": ds.GreaterThan,
        "ge": ds.GreaterThanOrEqual,
        "lt": ds.LessThan,
        "le": ds.LessThanOrEqual,
        "in": ds.In,
        "startswith": ds.StringStartsWith,
    }.get(kind)
    if cls is None:
        return (ds.IsNull if kind == "isnull" else ds.IsNotNull)((col,))
    return cls((col,), value)


def _key(obj) -> str:
    return json.dumps(obj, default=str, ensure_ascii=False)


def _rel(paths, root: str) -> list[str]:
    return sorted(os.path.relpath(unquote(urlparse(p).path) if "://" in p else p, root) for p in paths)


def _record(out: dict, name: str, fn) -> None:
    try:
        out[name] = fn()
    except Exception as e:  # noqa: BLE001 — the differential records failures
        out[name] = f"raises {type(e).__name__}"


def dump(root: str) -> dict:
    from pyspark.sql.types import StructType

    from nimble_spark.sources import table as tbl
    from nimble_spark.sources.datasource import NimblePushdownReader

    spark = _spark()
    out: dict = {}
    for table in sorted(os.listdir(root)):
        path = os.path.join(root, table)
        schema = StructType.fromJson(tbl.read_manifest(path, materialize=False)["schema"])
        singles = _single_preds(table)
        combos = list(itertools.combinations(singles, 2))
        pairs = random.Random(7).sample(combos, min(300, len(combos)))

        def pushdown(preds):
            reader = NimblePushdownReader(path, schema)
            reader.pushFilters([_filter(*p) for p in preds])
            return sorted(_rel([p.file_path for p in reader.partitions() if p.file_path], path))

        for preds in [(p,) for p in singles] + pairs:
            _record(out, _key(["pushdown", table, preds]), lambda: pushdown(preds))
        idx = tbl.read_manifest(path)["indexes"]
        keys = [k for kind in ("cluster", "zorder") for k in (idx.get(kind) or {}).get("keys", [])]
        keys += [idx["hash"]["key"]] if "hash" in idx else []
        keys += [k for k in (idx.get("bloom") or {}).get("keys", [])]
        for key in dict.fromkeys(keys):
            domain = sorted({p[2] for p in singles if p[0] == key and p[1] in ("eq", "gt")})
            for lo, hi in itertools.product([None, *domain[::2]], [None, *domain[1::2]]):
                _record(
                    out,
                    _key(["range_scan", table, key, lo, hi]),
                    lambda: _rel(tbl.read_table(spark, path, range_scan=(key, lo, hi)).inputFiles(), path),
                )
            for n in (1, 2, 3):
                for values in itertools.islice(itertools.combinations(domain, n), 12):
                    _record(
                        out,
                        _key(["point_lookup", table, key, values]),
                        lambda: _rel(
                            tbl.read_table(spark, path, point_lookup=(key, list(values))).inputFiles(), path
                        ),
                    )
                    if "hash" in idx:
                        continue

                    def entries():
                        got = tbl._point_lookup_entries(spark, path, tbl.read_manifest(path), key, list(values))
                        got = got[1] if isinstance(got, tuple) else got
                        return None if got is None else sorted(f["path"] for f in got)

                    _record(out, _key(["_point_lookup_entries", table, key, values]), entries)
    return out


def compare(a: dict, b: dict) -> int:
    """Print per-entry-point counts of identical and differing kept
    sets; return the number of differences."""
    from collections import Counter

    same, diff = Counter(), Counter()
    for k in sorted(set(a) | set(b)):
        entry, table = json.loads(k)[:2]
        (same if a.get(k) == b.get(k) else diff)[(entry, table)] += 1
        if a.get(k) != b.get(k):
            print(f"DIFF {k}\n  A: {a.get(k)}\n  B: {b.get(k)}")
    for entry, table in sorted(set(same) | set(diff)):
        print(f"{entry:24s} {table:16s} identical={same[(entry, table)]:5d} differ={diff[(entry, table)]}")
    return sum(diff.values())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("cmd", choices=["build", "dump", "compare"])
    ap.add_argument("args", nargs="+")
    ap.add_argument("--checkout", default=_HERE)
    ns = ap.parse_args()
    if ns.cmd == "compare":
        with open(ns.args[0]) as fa, open(ns.args[1]) as fb:
            sys.exit(1 if compare(json.load(fa), json.load(fb)) else 0)
    sys.path.insert(0, os.path.abspath(ns.checkout))
    if ns.cmd == "build":
        build(ns.args[0])
    else:
        with open(ns.args[1], "w") as fh:
            json.dump(dump(ns.args[0]), fh, indent=0, sort_keys=True, default=str)


if __name__ == "__main__":
    main()
