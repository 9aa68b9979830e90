"""Test-table loaders for the driver's synthetic TPC-H-ish corpus."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TimestampType column
    regardless of how the corpus generation stored it.

    The driver's testdata has shipped ``ts`` two ways across
    regenerations: TIMESTAMP(NANOS) parquet (which Spark reads as raw
    int64 nanos under ``nanosAsLong``) and plain ``timestamp[us]``
    (read natively as TIMESTAMP_NTZ). Branch on the dtype actually
    read: int64 nanos are floor-divided to micros — the exact
    semantics DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, so
    oracle comparisons stay bit-identical — and TIMESTAMP_NTZ is cast
    to TIMESTAMP (identity under the UTC session timezone pinned in
    session.py), because every downstream consumer — unix_micros(),
    streaming watermarks, window() — requires TimestampType. The
    nanos policy mirrors the reference's TimestampMicroNano
    two-stream split (dwio/nimble/velox/FieldWriter.cpp:514): micros
    carry the value, nanos are a lossy residual documented as such.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table (events.ts normalized — see
    :func:`normalize_events_ts`)."""
    if name == "events":
        # Harmless when the data is already timestamp[us]; required to
        # read TIMESTAMP(NANOS) generations without PARQUET_TYPE_ILLEGAL.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→TIMESTAMP normalization below is only identity under
        # UTC; pin it so a plain (driver-built) session matches DuckDB.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
