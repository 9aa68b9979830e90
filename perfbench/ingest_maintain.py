"""ingest_maintain: the write path beside the read path.

Set-up writes a bounded orders table (sf0.02 orders, 30k rows). A cycle
is ``ROUNDS`` rounds. Each round commits, in turn, a
``write_table(mode="append")`` of new rows, a ``merge_into`` upsert
(half updates of live keys, half new keys) and a ``delete_rows`` of live
keys, sized so that the live row count stays level; a verifying read
follows every commit and is the manifest-cache-miss path. The round
ends with maintenance:
``compact_table``, ``expire_snapshots`` and ``compact_deletes``
(materialize the delete masks), so file count, commit log and table size stay
level across run length. A DuckDB copy of the table, updated with the
same rows after each commit, gives every check its expected value.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics

import numpy as np

from core import Bench, dir_files, scan_totals

NAME = "ingest_maintain"
SF = 0.02
CORPUS_TABLES = ("orders",)
APPEND_ROWS = 1000
MERGE_ROWS = 1000  # half updates, half inserts
DELETE_ROWS = 1500  # = rows inserted by one append and one merge: live rows stay level
KEEP_COMMITS = 2  # a round logs 4 commits before expiry
COMMITS = ("append", "merge", "delete")
# Rounds of commits and maintenance per cycle: a cycle (about 8 s)
# outlasts the run length.
ROUNDS = 3
GROUP = {
    "append": "commit", "merge": "commit", "delete": "commit",
    "compact_deletes": "commit", "compact": "commit", "expire": "commit",
    "read": "read",
}
SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
    "o_orderdate date, o_orderpriority string"
)
DATE0 = dt.date(1995, 1, 1)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b)) + 1e-6


class State:
    def __init__(self, path, con, next_key, rng):
        self.path = path
        self.con = con  # DuckDB model of the live table
        self.next_key = next_key
        self.rng = rng
        self.physical_rows = 0  # rows in data files, delete masks not applied
        self.user_bytes = 0.0  # bytes of rows and keys submitted
        self.written_bytes = 0.0  # bytes of new files in the table dir
        self.amp_trace: list[tuple[float, float]] = []  # (user, written) per commit
        self.space_trace: list[float] = []  # space_amp after each maintenance

    def expected(self) -> tuple[int, float]:
        n, s = self.con.execute("SELECT count(*), sum(o_totalprice) FROM model").fetchone()
        return int(n), float(s or 0.0)

    def live_keys(self) -> np.ndarray:
        return self.con.execute("SELECT o_orderkey FROM model ORDER BY 1").fetchnumpy()["o_orderkey"]


def _rows(st: State, keys: np.ndarray):
    """Seeded order rows for ``keys`` as a pandas frame."""
    import pandas as pd

    n = len(keys)
    r = st.rng
    return pd.DataFrame({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": r.integers(0, 30_000, n),
        "o_orderstatus": r.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": [DATE0 + dt.timedelta(days=int(d)) for d in r.integers(0, 2400, n)],
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def _nbytes(pdf) -> int:
    import pyarrow as pa

    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def setup(b: Bench, corpus_dir: str, table_dir: str) -> State:
    import duckdb
    from pyspark.sql import functions as F

    from nimble_spark.sources.table import write_table

    src = os.path.join(corpus_dir, "orders.parquet")
    path = os.path.join(table_dir, "orders")
    df = b.spark.read.parquet(src).withColumn("o_orderdate", F.to_date("o_orderdate"))
    with b.tracer.span("sources.table.write_table", "sources.write"):
        write_table(df, path)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE model (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
        "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority VARCHAR)")
    con.execute(f"INSERT INTO model SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"CAST(o_orderdate AS DATE), o_orderpriority FROM '{src}'")
    n, = con.execute("SELECT count(*) FROM model").fetchone()
    nxt, = con.execute("SELECT max(o_orderkey) + 1 FROM model").fetchone()
    st = State(path, con, int(nxt), np.random.default_rng([b.seed, 3]))
    st.physical_rows = int(n)
    return st


# --- operations ------------------------------------------------------------


def _commit(b: Bench, st: State, kind: str, action, model_sql, user_bytes: int,
            expect_rows, corrupt: bool, counters=None):
    """Run one commit op, then apply it to the model and account bytes."""
    before = dir_files(st.path)

    def check(res):
        rows = res.get("rows") if isinstance(res, dict) else res
        return rows == expect_rows + (1 if corrupt else 0)

    rec = b.run_op(kind, GROUP[kind], action, check, counters)
    after = dir_files(st.path)
    # a file renamed into place (or into the trash) is not new bytes
    old_ids = {fid for fid, _ in before.values()}
    new = sum(sz for fid, sz in after.values() if fid not in old_ids)
    for sql, params in model_sql:
        st.con.execute(sql, params)
    st.user_bytes += user_bytes
    st.written_bytes += new
    st.amp_trace.append((user_bytes, new))
    if b.tracer.enabled:
        def data(files):
            return {p for p in files if p.endswith(".parquet") and not p.startswith("_nimble")}

        rec.counts.update({
            "sources.bytes_written": new,
            "sources.files_added": len(data(after) - data(before)),
            "sources.files_removed": len(data(before) - data(after)),
            "sources.manifest_bytes": sum(sz for p, (_, sz) in after.items() if p.startswith("_nimble")),
        })
    return rec


def _read(b: Bench, st: State, corrupt: bool):
    from pyspark.sql import functions as F

    from nimble_spark.sources.deletes import read_with_deletes

    exp_n, exp_s = st.expected()
    if corrupt:
        exp_n += 1

    def action():
        with b.tracer.span("sources.deletes.read_with_deletes", "sources.read"):
            df = read_with_deletes(b.spark, st.path)
        agg = df.agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
        with b.tracer.span("spark.exec", "spark"):
            row = agg.collect()[0]
        return agg, row.n, row.s or 0.0

    def check(res):
        return res[1] == exp_n and close(res[2], exp_s)

    b.run_op("read", "read", action, check, lambda res: scan_totals(res[0]))


def _append(b: Bench, st: State, corrupt: bool):
    from nimble_spark.sources.table import write_table

    keys = np.arange(st.next_key, st.next_key + APPEND_ROWS)
    st.next_key += APPEND_ROWS
    pdf = _rows(st, keys)
    df = b.spark.createDataFrame(pdf, SCHEMA)
    st.physical_rows += len(pdf)

    def action():
        with b.tracer.span("sources.table.write_table", "sources.write"):
            return write_table(df, st.path, mode="append")

    sql = [("INSERT INTO model SELECT * FROM pdf", None)]
    st.con.register("pdf", pdf)
    _commit(b, st, "append", action, sql, _nbytes(pdf), st.physical_rows, corrupt)
    st.con.unregister("pdf")


def _merge(b: Bench, st: State, corrupt: bool):
    from nimble_spark.sources.merge import merge_into

    live = st.live_keys()
    upd = st.rng.choice(live, MERGE_ROWS // 2, replace=False)
    ins = np.arange(st.next_key, st.next_key + MERGE_ROWS - len(upd))
    st.next_key += len(ins)
    pdf = _rows(st, np.concatenate([upd, ins]))
    df = b.spark.createDataFrame(pdf, SCHEMA)
    st.physical_rows += len(ins)

    def action():
        with b.tracer.span("sources.merge.merge_into", "sources.write"):
            return merge_into(b.spark, st.path, df, "o_orderkey")

    sql = [("INSERT OR REPLACE INTO model SELECT * FROM pdf", None)]
    st.con.register("pdf", pdf)
    _commit(b, st, "merge", action, sql, _nbytes(pdf), st.physical_rows, corrupt)
    st.con.unregister("pdf")


def _delete(b: Bench, st: State, corrupt: bool):
    from nimble_spark.sources.deletes import delete_rows

    keys = [int(k) for k in st.rng.choice(st.live_keys(), DELETE_ROWS, replace=False)]

    def action():
        with b.tracer.span("sources.deletes.delete_rows", "sources.write"):
            return delete_rows(b.spark, st.path, "o_orderkey", keys)

    sql = [("DELETE FROM model WHERE o_orderkey IN (SELECT unnest(?))", [keys])]
    _commit(b, st, "delete", action, sql, 8 * len(keys), len(keys), corrupt)


def _maintain(b: Bench, st: State, corrupt: bool):
    """compact_table, expire_snapshots, then compact_deletes: the last
    rewrites the table with its masks applied and restarts its log."""
    from nimble_spark.sources.compaction import compact_table
    from nimble_spark.sources.deletes import compact_deletes
    from nimble_spark.sources.table import expire_snapshots

    tr = b.tracer

    def ct():
        with tr.span("sources.compaction.compact_table", "sources.write"):
            return compact_table(b.spark, st.path)

    _commit(b, st, "compact", ct, [], 0, st.physical_rows, corrupt, lambda res: {
        "compaction.files_before": res["files_before"],
        "compaction.files_after": res["files_after"]})

    def ex():
        with tr.span("sources.table.expire_snapshots", "sources.write"):
            m = expire_snapshots(st.path, KEEP_COMMITS)
        return {"rows": len(m["commits"])}

    _commit(b, st, "expire", ex, [], 0, KEEP_COMMITS, corrupt)
    live, _ = st.expected()

    def cd():
        with tr.span("sources.deletes.compact_deletes", "sources.write"):
            return compact_deletes(b.spark, st.path)

    _commit(b, st, "compact_deletes", cd, [], 0, live, corrupt)
    st.physical_rows = live
    st.space_trace.append(space_amp(st))


def space_amp(st: State) -> float:
    """Bytes in the table directory per raw (Arrow) byte of live rows."""
    live = st.con.execute("SELECT * FROM model").arrow().nbytes
    return sum(sz for _, sz in dir_files(st.path).values()) / live


OPS = {"append": _append, "merge": _merge, "delete": _delete}


def _commits_then_maintain(b: Bench, st: State, commits, corrupt: bool) -> None:
    # a fixed order: a read's cost depends on whether delete masks are
    # pending, so the order sets the mix of read costs in a cycle
    for kind in commits:
        OPS[kind](b, st, corrupt)
        _read(b, st, corrupt)
    _maintain(b, st, corrupt)
    _read(b, st, corrupt)


def warm(b: Bench, st: State) -> None:
    """Every operation type once: one round of commits and maintenance."""
    _commits_then_maintain(b, st, COMMITS, False)


def cycle(b: Bench, st: State, corrupt: bool = False) -> None:
    for _ in range(ROUNDS):
        _commits_then_maintain(b, st, COMMITS, corrupt)


# --- metrics -----------------------------------------------------------------


def _thirds(vals: list) -> tuple[list, list]:
    n = len(vals) // 3
    return vals[n:2 * n], vals[len(vals) - n:]


def space_amp_drift(st: State) -> float:
    """space_amp: mean over the last third of cycles / middle third."""
    mid, last = _thirds(st.space_trace)
    return (sum(last) / sum(mid)) if mid else 0.0


def write_amp_drift(st: State) -> float:
    """write_amp over the last third of commits / over the middle third."""
    mid, last = _thirds(st.amp_trace)

    def amp(part):
        return sum(w for _, w in part) / sum(u for u, _ in part)

    return amp(last) / amp(mid) if mid else 0.0


def workload_metrics(st: State, records) -> dict:
    from core import group_latency

    com = group_latency(records, {"commit"})
    out = {
        "commit_p50_ms": (com["p50_ms"], "ms", com["n"], "p50"),
        "commit_tail_ms": (com["tail_ms"], "ms", com["n"], f"p{com['tail_pct']:g}"),
    }
    out["write_amp"] = (st.written_bytes / st.user_bytes, "ratio", len(st.amp_trace), "total")
    out["space_amp"] = (st.space_trace[-1], "ratio", len(st.space_trace), "at run end")
    return out


def layer_metrics(b: Bench, st: State, records) -> dict:
    from core import mean_count, median_span_ms

    tr = b.tracer
    by = {k: [r for r in records if r.kind == k] for k in GROUP}
    commits = [r for r in records if r.group == "commit"]
    return {
        "sources.append_ms": median_span_ms(tr, "sources.table.write_table", by["append"]),
        "merge.merge_into_ms": median_span_ms(tr, "sources.merge.merge_into", by["merge"]),
        "deletes.delete_rows_ms": median_span_ms(tr, "sources.deletes.delete_rows", by["delete"]),
        "deletes.compact_deletes_ms": median_span_ms(
            tr, "sources.deletes.compact_deletes", by["compact_deletes"]),
        "compaction.compact_ms": median_span_ms(
            tr, "sources.compaction.compact_table", by["compact"]),
        "table.expire_ms": median_span_ms(tr, "sources.table.expire_snapshots", by["expire"]),
        "sources.read_after_write_ms": statistics.median(
            [r.latency_ms for r in by["read"]] or [0.0]),
        "sources.bytes_written": mean_count(commits, "sources.bytes_written"),
        "sources.files_added": mean_count(commits, "sources.files_added"),
        "sources.files_removed": mean_count(commits, "sources.files_removed"),
        "compaction.files_before": mean_count(by["compact"], "compaction.files_before"),
        "compaction.files_after": mean_count(by["compact"], "compaction.files_after"),
        "sources.manifest_bytes": mean_count(commits, "sources.manifest_bytes"),
        "write_amp.last_over_mid": write_amp_drift(st),
        "space_amp.last_over_mid": space_amp_drift(st),
    }
