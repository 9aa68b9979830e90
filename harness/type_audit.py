"""Type-parity audit: Spark schema vs DuckDB arrow schema per oracle.

The driver's value-hash canonicalizes each engine's native result; a
DuckDB HUGEINT (SUM over any integer → int128 → arrow decimal128)
pairs with a Spark LONG and can hash differently even when the values
are numerically equal (observed: q_case_agg, q_sessionize in r01).
This audit runs every oracle with LIMIT 0 through DuckDB's arrow
fetch and diffs the column types against the Spark DataFrame schema,
so the mismatch class is caught locally before the driver sees it.

Usage: python harness/type_audit.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# spark simpleString -> acceptable arrow type prefixes
COMPAT = {
    "bigint": ("int64", "int32", "uint32"),
    "int": ("int32", "int64"),
    "smallint": ("int16",),
    "tinyint": ("int8",),
    "double": ("double", "float64"),
    "float": ("float", "float32"),
    "string": ("string", "large_string"),
    "boolean": ("bool",),
    "date": ("date32",),
    "binary": ("binary", "large_binary"),
}


def arrow_name(t) -> str:
    return str(t)


def compatible(spark_t: str, arrow_t: str) -> bool:
    if spark_t.startswith("decimal"):
        return arrow_t.startswith("decimal")
    if spark_t.startswith("array"):
        return arrow_t.startswith(("list", "large_list"))
    if spark_t.startswith("timestamp"):
        return arrow_t.startswith("timestamp")
    ok = COMPAT.get(spark_t)
    if ok is None:
        return True  # unknown pairing — don't flag
    return arrow_t.startswith(ok)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from nimble_spark import get_spark
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    spark = get_spark("type_audit")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.names or [n for n, e in QUERIES.items() if e.oracle]
    bad = 0
    for name in names:
        e = QUERIES[name]
        if not e.oracle:
            continue
        try:
            sdf = e.fn(spark, args.sf)
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        except Exception as ex:
            print(f"ERR  {name}: spark build failed: {ex}")
            bad += 1
            continue
        try:
            tbl = con.execute(f"SELECT * FROM ({e.oracle}) __q LIMIT 0").arrow()
            otypes = {f.name: arrow_name(f.type) for f in tbl.schema}
        except Exception as ex:
            print(f"ERR  {name}: duckdb failed: {ex}")
            bad += 1
            continue
        if set(stypes) != set(otypes):
            print(f"COLS {name}: spark={sorted(stypes)} oracle={sorted(otypes)}")
            bad += 1
            continue
        for c in stypes:
            if not compatible(stypes[c], otypes[c]):
                print(f"TYPE {name}.{c}: spark={stypes[c]} oracle-arrow={otypes[c]}")
                bad += 1
    print(f"type audit: {bad} mismatches over {len(names)} oracles")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
