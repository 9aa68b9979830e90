"""Seeded TPC-H-ish corpus for the benchmark.

Writes the ten tables the registry queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the schemas and value domains of the package's test
corpus. Row counts scale with ``sf`` (lineitem = 6M x sf). The same
(seed, sf) always writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ("large", "hot", "blue", "old", "cold", "red")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` of the corpus under ``out_dir``; return rows per
    table. Each table draws from its own seeded stream, so a subset is
    byte-identical to the same tables of the full corpus."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    if "region" in tables:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in tables:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in tables:
        rng = np.random.default_rng([seed, 2])
        _write(out_dir, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
        })
    if "supplier" in tables:
        rng = np.random.default_rng([seed, 3])
        _write(out_dir, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        })
    if "part" in tables:
        rng = np.random.default_rng([seed, 4])
        adj = rng.choice(_ADJ, n_part)
        noun = rng.choice(_NOUN, n_part)
        _write(out_dir, "part", {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        })
    if "orders" in tables:
        rng = np.random.default_rng([seed, 5])
        _write(out_dir, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        })
    if "lineitem" in tables:
        rng = np.random.default_rng([seed, 6])
        _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        })
    if "events" in tables:
        rng = np.random.default_rng([seed, 7])
        month_us = 30 * 86_400 * 1_000_000
        ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
        _write(out_dir, "events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })
    if "documents" in tables:
        rng = np.random.default_rng([seed, 8])
        texts: list[str] = []
        lengths = rng.integers(10, 101, n_doc)
        dup_of = rng.random(n_doc) < 0.05
        for i in range(n_doc):
            if dup_of[i] and i > 0:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                texts.append(" ".join(rng.choice(_WORDS, lengths[i])))
        _write(out_dir, "documents", {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if "embeddings" in tables:
        rng = np.random.default_rng([seed, 9])
        vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        _write(out_dir, "embeddings", {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        })
    rows = {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev, "documents": n_doc,
        "embeddings": n_vec,
    }
    return {t: rows[t] for t in tables}


def wide_features(path: str, seed: int, rows: int, cols: int) -> None:
    """A feature table: ``fid`` plus ``cols`` double columns ``f0000``..."""
    rng = np.random.default_rng([seed, 100])
    data = {"fid": np.arange(rows, dtype=np.int64)}
    block = np.round(rng.standard_normal((cols, rows)), 4)
    for i in range(cols):
        data[f"f{i:04d}"] = block[i]
    pq.write_table(pa.table(data), path)
