"""serve_scan: the serving and pushdown surface.

Set-up writes sf0.1 lineitem clustered by ``l_orderkey`` with a bloom
on ``l_partkey``, plus a 2048-column feature table. Each cycle runs
eighteen operations in a seeded order: four ``serve_lookups`` batches of
100 Zipf-skewed keys, four 20-key ``read_table`` point lookups, two 1%
range scans, six projected aggregate scans and two 3-column projections
of the wide table. Every manifest read after set-up is a cache hit.
"""

from __future__ import annotations

import io
import os

import numpy as np

from core import Bench, scan_totals

NAME = "serve_scan"
SF = 0.1
CORPUS_TABLES = ("lineitem",)
WIDE_ROWS, WIDE_COLS = 256, 2048
SERVE_KEYS, POINT_KEYS = 100, 20
# Latency order is point < range ~ wide < agg < serve; with this mix the
# median op is an aggregate scan in every cycle, whatever the seed.
# Twice this mix is a cycle (about 10 s), longer than the run length.
CYCLE = (("point",) * 2 + ("range", "wide") + ("agg",) * 3 + ("serve",) * 2) * 2
GROUP = {"serve": "lookup", "point": "lookup", "range": "scan", "agg": "scan", "wide": "scan"}
PROJ = ["l_extendedprice", "l_quantity"]


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b)) + 1e-6


class Oracle:
    """Expected results, computed by DuckDB over the source parquet."""

    def __init__(self, corpus_dir: str, wide_path: str) -> None:
        import duckdb

        con = duckdb.connect()
        li = os.path.join(corpus_dir, "lineitem.parquet")
        n_ord = con.sql(f"SELECT max(l_orderkey) + 1 FROM '{li}'").fetchone()[0]
        per_key = con.sql(
            f"SELECT l_orderkey, count(*), sum(l_extendedprice) FROM '{li}' GROUP BY 1"
        ).fetchnumpy()
        self.n_keys = int(n_ord)
        self.cnt = np.zeros(self.n_keys, np.int64)
        self.price = np.zeros(self.n_keys)
        k = per_key["l_orderkey"]
        self.cnt[k] = per_key["count_star()"]
        self.price[k] = per_key["sum(l_extendedprice)"]
        self.cnt_cum = np.concatenate([[0], np.cumsum(self.cnt)])
        self.price_cum = np.concatenate([[0.0], np.cumsum(self.price)])
        # (returnflag, quantity) -> count, sum of discounted price
        self.agg = {}
        for flag, qty, c, rev in con.sql(
            f"SELECT l_returnflag, l_quantity, count(*), "
            f"sum(l_extendedprice * (1 - l_discount)) FROM '{li}' GROUP BY 1, 2"
        ).fetchall():
            self.agg[(flag, qty)] = (c, rev)
        cols = [f"f{i:04d}" for i in range(WIDE_COLS)]
        sums = con.sql(
            "SELECT " + ", ".join(f"sum({c})" for c in cols) + f" FROM '{wide_path}'"
        ).fetchone()
        self.wide = dict(zip(cols, sums))
        con.close()

    def keys(self, keys) -> tuple[int, float]:
        keys = np.asarray(keys)
        return int(self.cnt[keys].sum()), float(self.price[keys].sum())

    def range(self, lo: int, hi: int) -> tuple[int, float]:
        return (int(self.cnt_cum[hi + 1] - self.cnt_cum[lo]),
                float(self.price_cum[hi + 1] - self.price_cum[lo]))

    def agg_below(self, q: float) -> dict[str, tuple[int, float]]:
        out: dict[str, list] = {}
        for (flag, qty), (c, rev) in self.agg.items():
            if qty < q:
                acc = out.setdefault(flag, [0, 0.0])
                acc[0] += c
                acc[1] += rev
        return {f: (c, r) for f, (c, r) in out.items()}


class State:
    def __init__(self, li_path, wide_path, oracle, manifest_files, seed):
        self.li_path = li_path
        self.wide_path = wide_path
        self.oracle = oracle
        self.manifest_files = manifest_files
        self.rng = np.random.default_rng([seed, 1])
        # Zipf rank -> key, so the hottest keys are scattered over the table
        self.perm = np.random.default_rng([seed, 2]).permutation(oracle.n_keys)


def prepare(corpus_dir: str, seed: int) -> None:
    from corpus import wide_features

    wide_features(os.path.join(corpus_dir, "wide.parquet"), seed, WIDE_ROWS, WIDE_COLS)


def setup(b: Bench, corpus_dir: str, table_dir: str) -> State:
    from nimble_spark.sources.table import WriteOptions, read_manifest, write_table

    spark, tr = b.spark, b.tracer
    li_path = os.path.join(table_dir, "lineitem")
    wide_path = os.path.join(table_dir, "wide")
    li = spark.read.parquet(os.path.join(corpus_dir, "lineitem.parquet"))
    with tr.span("sources.table.write_table", "sources.write"):
        write_table(li, li_path, WriteOptions(cluster_by=["l_orderkey"], bloom_cols=["l_partkey"]))
    wide = spark.read.parquet(os.path.join(corpus_dir, "wide.parquet"))
    with tr.span("sources.table.write_table", "sources.write"):
        write_table(wide, wide_path)
    oracle = Oracle(corpus_dir, os.path.join(corpus_dir, "wide.parquet"))
    return State(li_path, wide_path, oracle, len(read_manifest(li_path)["files"]), b.seed)


# --- operations ------------------------------------------------------------


def _serve(b: Bench, st: State, corrupt: bool):
    import pyarrow as pa

    from nimble_spark.sources.serde import serve_lookups

    spark, tr = b.spark, b.tracer
    ranks = st.rng.zipf(1.3, SERVE_KEYS)
    keys = [int(st.perm[(r - 1) % st.oracle.n_keys]) for r in ranks]
    exp_n, exp_s = st.oracle.keys(keys)
    if corrupt:
        exp_n += 1

    def action():
        with tr.span("spark.createDataFrame", "spark"):
            req = spark.createDataFrame(
                list(enumerate(keys)), "request_id long, l_orderkey long")
        with tr.span("sources.serde.serve_lookups", "serde"):
            out = serve_lookups(spark, st.li_path, req, "l_orderkey", PROJ)
        with tr.span("spark.exec", "spark"):
            rows = out.collect()
        n = hits = size = 0
        s = 0.0
        with tr.span("bench.decode", "bench"):
            for r in rows:
                size += len(r.payload)
                if r.n_rows:
                    hits += 1
                    t = pa.ipc.open_stream(io.BytesIO(r.payload)).read_all()
                    s += float(sum(t.column("l_extendedprice").to_pylist()))
                n += r.n_rows
        return out, n, s, len(rows), hits, size

    def check(res):
        _, n, s, n_req, _, _ = res
        return n_req == SERVE_KEYS and n == exp_n and close(s, exp_s)

    def counters(res):
        out, n, _, n_req, hits, size = res
        c = scan_totals(out)
        c.update({
            "rows_returned": n, "serde.payload_bytes_per_req": size / n_req,
            "serde.hit_ratio": hits / n_req,
            "sources.files_kept_ratio": c["plans.scan_files"] / st.manifest_files,
        })
        return c

    return action, check, counters


def _point(b: Bench, st: State, corrupt: bool):
    from nimble_spark.sources.table import read_table

    spark, tr = b.spark, b.tracer
    keys = sorted({int(k) for k in st.rng.integers(0, st.oracle.n_keys, POINT_KEYS)})
    exp_n, exp_s = st.oracle.keys(keys)
    if corrupt:
        exp_n += 1

    def action():
        with tr.span("sources.table.read_table", "sources.read"):
            df = read_table(spark, st.li_path, columns=["l_orderkey", *PROJ],
                            point_lookup=("l_orderkey", keys))
        with tr.span("spark.exec", "spark"):
            rows = df.collect()
        return df, len(rows), sum(r.l_extendedprice for r in rows)

    def check(res):
        return res[1] == exp_n and close(res[2], exp_s)

    def counters(res):
        c = scan_totals(res[0])
        c["rows_returned"] = res[1]
        c["sources.files_kept_ratio"] = c["plans.scan_files"] / st.manifest_files
        return c

    return action, check, counters


def _range(b: Bench, st: State, corrupt: bool):
    from pyspark.sql import functions as F

    from nimble_spark.sources.table import read_table

    spark, tr = b.spark, b.tracer
    width = st.oracle.n_keys // 100
    lo = int(st.rng.integers(0, st.oracle.n_keys - width))
    hi = lo + width - 1
    exp_n, exp_s = st.oracle.range(lo, hi)
    if corrupt:
        exp_n += 1

    def action():
        with tr.span("sources.table.read_table", "sources.read"):
            df = read_table(spark, st.li_path, columns=["l_orderkey", *PROJ],
                            range_scan=("l_orderkey", lo, hi))
        agg = df.agg(F.count("*").alias("n"), F.sum("l_extendedprice").alias("s"))
        with tr.span("spark.exec", "spark"):
            row = agg.collect()[0]
        return agg, row.n, row.s or 0.0

    def check(res):
        return res[1] == exp_n and close(res[2], exp_s)

    def counters(res):
        c = scan_totals(res[0])
        c["rows_returned"] = res[1]
        c["sources.files_kept_ratio"] = c["plans.scan_files"] / st.manifest_files
        return c

    return action, check, counters


def _agg(b: Bench, st: State, corrupt: bool):
    from pyspark.sql import functions as F

    from nimble_spark.sources.table import read_table

    spark, tr = b.spark, b.tracer
    q = float(st.rng.integers(5, 51))
    expected = st.oracle.agg_below(q)
    if corrupt:
        expected = {f: (c + 1, r) for f, (c, r) in expected.items()}

    def action():
        with tr.span("sources.table.read_table", "sources.read"):
            df = read_table(spark, st.li_path, columns=[
                "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"])
        agg = (df.filter(F.col("l_quantity") < q).groupBy("l_returnflag")
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")))
        with tr.span("spark.exec", "spark"):
            rows = agg.collect()
        return agg, {r.l_returnflag: (r.n, r.rev) for r in rows}

    def check(res):
        got = res[1]
        return set(got) == set(expected) and all(
            got[f][0] == expected[f][0] and close(got[f][1], expected[f][1]) for f in got)

    def counters(res):
        c = scan_totals(res[0])
        c["sources.files_kept_ratio"] = c["plans.scan_files"] / st.manifest_files
        return c

    return action, check, counters


def _wide(b: Bench, st: State, corrupt: bool):
    from pyspark.sql import functions as F

    from nimble_spark.sources.table import read_table

    spark, tr = b.spark, b.tracer
    cols = [f"f{int(i):04d}" for i in st.rng.choice(WIDE_COLS, 3, replace=False)]
    expected = [st.oracle.wide[c] for c in cols]
    if corrupt:
        expected[0] += 1.0

    def action():
        with tr.span("sources.table.read_table", "sources.read"):
            df = read_table(spark, st.wide_path, columns=cols)
        agg = df.agg(*[F.sum(c).alias(c) for c in cols])
        with tr.span("spark.exec", "spark"):
            row = agg.collect()[0]
        return agg, [row[c] for c in cols]

    def check(res):
        return all(close(g, e) for g, e in zip(res[1], expected))

    return action, check, lambda res: scan_totals(res[0])


OPS = {"serve": _serve, "point": _point, "range": _range, "agg": _agg, "wide": _wide}


def run_kind(b: Bench, st: State, kind: str, corrupt: bool = False):
    action, check, counters = OPS[kind](b, st, corrupt)
    return b.run_op(kind, GROUP[kind], action, check, counters)


def warm(b: Bench, st: State) -> None:
    for kind in OPS:
        run_kind(b, st, kind)


def cycle(b: Bench, st: State, corrupt: bool = False) -> None:
    for kind in st.rng.permutation(CYCLE):
        run_kind(b, st, str(kind), corrupt)


# --- metrics -----------------------------------------------------------------


def workload_metrics(st: State, records) -> dict:
    from core import group_latency

    look = group_latency(records, {"lookup"})
    scan = group_latency(records, {"scan"})
    return {
        "lookup_p50_ms": (look["p50_ms"], "ms", look["n"], "p50"),
        "lookup_tail_ms": (look["tail_ms"], "ms", look["n"], f"p{look['tail_pct']:g}"),
        "scan_p50_ms": (scan["p50_ms"], "ms", scan["n"], "p50"),
    }


def layer_metrics(b: Bench, st: State, records) -> dict:
    from core import mean_count, median_span_ms

    tr = b.tracer
    reads = [r for r in records if r.kind != "serve"]
    serves = [r for r in records if r.kind == "serve"]
    pruned = [r for r in records if r.kind in ("serve", "point", "range")]
    scanned = sum(r.counts.get("plans.scan_rows", 0) for r in pruned)
    returned = sum(r.counts.get("rows_returned", 0) for r in pruned)
    return {
        "sources.read_table_ms": median_span_ms(tr, "sources.table.read_table", reads),
        "sources.read_exec_ms": median_span_ms(tr, "spark.exec", reads),
        "sources.files_kept_ratio": mean_count(
            [r for r in records if r.kind != "wide"], "sources.files_kept_ratio"),
        "sources.rows_kept_ratio": returned / scanned if scanned else 0.0,
        "serde.serve_call_ms": median_span_ms(tr, "sources.serde.serve_lookups", serves),
        "serde.serve_exec_ms": median_span_ms(tr, "spark.exec", serves),
        "serde.payload_bytes_per_req": mean_count(serves, "serde.payload_bytes_per_req"),
        "serde.hit_ratio": mean_count(serves, "serde.hit_ratio"),
    }
