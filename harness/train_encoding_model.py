"""Offline trainer for the learned encoding-selection model.

Usage: python harness/train_encoding_model.py [--sf DIR]

Measures dictionary-on vs dictionary-off outcomes (actual bytes on
disk) for the synthetic encoding patterns plus TPC-H columns, fits
the logistic model, prints the fitted weights and its agreement with
the measured labels. Paste the weights into
``nimble_spark/sources/encoding_policy.py:DEFAULT_ENCODING_MODEL``
when re-tuning — the reference bakes its trained constants the same
way (EncodingSelectionPolicy.h:346-352 "trained offline … do not need
updates unless encodings are added or removed").
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from nimble_spark import get_spark
    from nimble_spark.sources.encoding_policy import (
        fit_encoding_model,
        measure_dictionary_outcomes,
    )
    from nimble_spark.tools import _BENCH_PATTERNS

    spark = get_spark("enc-train")
    spark.sparkContext.setLogLevel("ERROR")

    examples = []
    # synthetic patterns at two sizes (size is a model feature)
    for n in (50_000, 1_000_000):
        df = spark.range(n).selectExpr(
            *[f"{expr} AS p_{name}" for name, expr in _BENCH_PATTERNS]
        )
        examples += measure_dictionary_outcomes(df)
    # real TPC-H shapes
    for tbl in ("orders", "lineitem", "customer"):
        df = spark.read.parquet(f"{args.sf}/{tbl}.parquet")
        examples += measure_dictionary_outcomes(df)

    for p, label in examples:
        print(
            f"  {p.name:30s} n={p.n:8d} ndv_ratio={p.ndv_ratio:.4f} "
            f"nulls={p.null_count} avg_b={p.data_bytes / max(p.n, 1):.1f} "
            f"dict_wins={label}"
        )
    model = fit_encoding_model(examples)
    agree = sum(
        1 for p, label in examples if model.predict_dictionary(p) == label
    )
    print(f"\nfitted: {model}")
    print(f"agreement: {agree}/{len(examples)}")


if __name__ == "__main__":
    main()
