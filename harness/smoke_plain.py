"""Plain-session smoke: run every registered query under a DEFAULT
SparkSession (no nimble_spark session confs) — exactly how the driver
invokes the contract. Catches conf-dependent breakage (timezone,
Arrow, adaptive settings) that the tuned get_spark() session hides.

Usage:
    python harness/smoke_plain.py [--sf /root/testdata/sf0.001] [name ...]

Prints `ok name: rows` / `ERR name: msg` per query and exits non-zero
on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as ent

    qs = ent.queries()
    names = args.names or list(qs)
    failures = []
    for n in names:
        try:
            c = qs[n](spark, args.sf).count()
            print(f"ok {n}: {c}")
        except Exception as e:  # noqa: BLE001
            failures.append(n)
            print(f"ERR {n}: {str(e)[:200]}")
    print(f"\n{len(names) - len(failures)} ok, {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
