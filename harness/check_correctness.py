"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 via Spark AND the matching
``oracle_sql()`` via DuckDB, then compares row count, sorted schema,
and an order-insensitive value hash. Usage:

    python harness/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm_cell(v) -> str:
    # The driver normalizes BOTH result sets through pandas before
    # hashing, so this harness must see values the way pandas types
    # them (the r7 lesson: DuckDB HUGEINT -> pandas float64 made the
    # driver hash '499500.0' while fetchall()'s Python int hashed
    # '499500' — internal green contradicted driver red). Values
    # therefore arrive here as numpy scalars / pd.Timestamp / pd.NaT,
    # never as raw DB-API types.
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            # NaN ≡ NULL: pandas renders a NULL in a numeric column as
            # NaN (duck .df()) but an all-None column as object/None
            # (Spark tuples) — the driver treats both as null
            return "<null>"
        # match driver-ish canonicalization: repr of rounded value
        return repr(round(v, 6))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from nimble_spark import get_spark
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    spark = get_spark("correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.names or list(QUERIES)
    n_pass = n_fail = n_weak = 0
    for name in names:
        e = QUERIES[name]
        t0 = time.time()
        try:
            sdf = e.fn(spark, args.sf)
            scols = sdf.columns
            # mirror the driver: Spark rows pass through a pandas frame
            # before hashing (int columns stay int64 unless NULLs force
            # object/float — exactly the driver's view of them)
            raw = [tuple(r) for r in sdf.collect()]
            spdf = pd.DataFrame(raw, columns=scols)
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if e.oracle is None:
            print(f"weak {name}: rows={len(srows)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            res = con.sql(e.oracle)
            dcols = res.columns
            # mirror the driver: DuckDB results via .df() (pandas), NOT
            # fetchall() — this is where HUGEINT becomes float64 and a
            # bare SUM(int) oracle turns red, as it does at the driver
            dpdf = res.df()
            drows = [tuple(r) for r in dpdf.itertuples(index=False, name=None)]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
        sh = table_hash(srows, [c.lower() for c in scols])
        dh = table_hash(drows, [c.lower() for c in dcols])
        ok_hash = sh == dh
        if ok_rows and ok_cols and ok_hash:
            print(f"PASS {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(
                f"FAIL {name}: rows {len(srows)}/{len(drows)} cols_ok={ok_cols} hash {sh}/{dh}"
            )
            if not ok_cols:
                print(f"     spark cols: {sorted(scols)}\n     duck  cols: {sorted(dcols)}")
            elif not ok_hash and srows and drows:
                sorder = sorted(range(len(scols)), key=lambda i: scols[i].lower())
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
                sset = {"|".join(norm_cell(r[i]) for i in sorder) for r in srows}
                dset = {"|".join(norm_cell(r[i]) for i in dorder) for r in drows}
                print("     spark-only:", list(sset - dset)[:3])
                print("     duck-only: ", list(dset - sset)[:3])
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
