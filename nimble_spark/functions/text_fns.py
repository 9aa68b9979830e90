"""Portable text primitives used by the text-analysis and dedup
operators.

Every primitive exists twice, by design: a Spark Column expression and
a DuckDB SQL snippet that computes bit-identical results — this is
what lets heuristic operators (minhash, fingerprints, quality scores)
be oracle-checked exactly rather than "rows-only".

The portable 32-bit token hash is the first 8 hex digits of md5 —
the only hash primitive both engines share. All arithmetic stays in
int64 (products ≤ 2^39, sums ≤ 2^50) so no overflow on either side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007

# ---- tokenization ----------------------------------------------------------

TOKENS_SQL = "string_split_regex(trim({col}), '\\s+')"


def tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


# ---- portable 32-bit hash --------------------------------------------------
# Spark:  conv(substr(md5(s),1,8),16,10) cast to bigint
# DuckDB: cast('0x' || substr(md5(s),1,8) as bigint)


def hash32_sql_spark(expr: str) -> str:
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def hash32_sql_duck(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


# Second independent 32-bit hash (md5 hex chars 9..16) — gives 64
# portable hash bits per value when paired with hash32 (used by the
# 64-bit SimHash: bits 0..31 from hash32, 32..63 from hash32b).


def hash32b_sql_duck(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 9, 8)) AS BIGINT)"


# Wide portable hash: first 15 hex digits of md5 → 60 bits, always
# non-negative, fits int64 on both engines. Used to replace long
# string keys (shingles) with fixed-width ints before shuffles/joins:
# the dedup pipelines carry 8-byte keys instead of ~30-byte n-gram
# strings, and equality/sort/array_intersect run on longs. Collisions
# (~n²/2^61 — immaterial) are CONSISTENT across engines because the
# oracle applies the same hash, so outputs still compare bit-equal.


def hash60_sql_spark(expr: str) -> str:
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash60_sql_duck(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---- word n-gram shingles --------------------------------------------------
# Guarded: fewer than n tokens → empty list (Spark's sequence(1,0) would
# otherwise produce a DESCENDING sequence, not an empty one).


def shingles_sql_spark(toks_expr: str, n: int = 3) -> str:
    parts = ", ".join(f"element_at({toks_expr}, i + {k})" for k in range(n))
    return (
        f"CASE WHEN size({toks_expr}) >= {n} THEN "
        f"transform(sequence(1, size({toks_expr}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def shingles_sql_duck(toks_expr: str, n: int = 3) -> str:
    parts = " || ' ' || ".join(f"({toks_expr})[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len({toks_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks_expr}) - {n - 1}), "
        f"i -> {parts}) "
        f"ELSE [] END"
    )
