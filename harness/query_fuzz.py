"""Whole-query random differential fuzz: one seeded SQL string run
through BOTH spark.sql and DuckDB over the same parquet, results
hash-compared.

The curated registry (289 oracle-gated queries) pins known shapes;
this fuzzer walks the *space between them* — random typed expression
trees (arithmetic, CASE, string/date functions, NULLIF-injected
nulls), random predicate conjunctions, and six query shapes
(filter+order+limit, group-aggregate, FK-join aggregate, window
functions, IN-subquery, set ops). It is the relational analogue of
tests/test_filter_fuzz.py (the reference's E2EFilterTest model,
velox/selective/tests/E2EFilterTest.cpp:851) widened from pushdown
filters to the full query surface the engine exposes via spark.sql.

Dialect discipline — the generator emits ONLY the Spark∩DuckDB
portable intersection, and every exclusion is a documented semantic
divergence, not a guess:

  * no double SUM/AVG (accumulation order differs across engines and
    partitionings; integer SUMs are exact and CAST AS BIGINT so
    DuckDB's HUGEINT never reaches the hash — the r7 driver lesson);
  * no division (integer /0: Spark ANSI errors, DuckDB errors with a
    different class; float /0: inf vs error divergence risk);
  * no CONCAT(a,b) (DuckDB skips NULL args, Spark nulls out) — the
    ``||`` operator is null-strict in both and used instead;
  * no ROUND in projections (half-up vs half-even at exact .5);
  * ORDER BY ... LIMIT only over a unique key prefix (deterministic
    row SET under ties — the hash is order-insensitive but LIMIT is
    not);
  * RANK/DENSE_RANK only with a tiebreaking unique key in ORDER BY;
    windowed SUM only whole-partition (no running frames over ties);
  * rollup/cube/grouping-sets carry ``HAVING COUNT(*) > 0``: over
    EMPTY input the standard's empty grouping set () yields one
    global row (DuckDB/Postgres) while Spark returns no rows — a
    real Spark-vs-standard divergence THIS fuzzer found (seed 5017);
  * modulo only over known-non-negative columns (negative % differs
    nowhere in these two, but keep the guarantee trivially true).

Usage:
    python harness/query_fuzz.py [--n 200] [--seed0 0]
        [--sf /root/testdata/sf0.001] [--shape all]

Exit code 1 on any divergence; each failure prints its seed + SQL so
it replays exactly.
"""

from __future__ import annotations

import argparse
import hashlib
import random
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ---------------------------------------------------------------- schemas

# kind: i=integer-family, d=double, s=string, t=timestamp
SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "lineitem": [
        ("l_orderkey", "i"), ("l_partkey", "i"), ("l_suppkey", "i"),
        ("l_linenumber", "i"), ("l_quantity", "d"),
        ("l_extendedprice", "d"), ("l_discount", "d"), ("l_tax", "d"),
        ("l_returnflag", "s"), ("l_linestatus", "s"), ("l_shipdate", "t"),
    ],
    "orders": [
        ("o_orderkey", "i"), ("o_custkey", "i"), ("o_orderstatus", "s"),
        ("o_totalprice", "d"), ("o_orderdate", "t"), ("o_orderpriority", "s"),
    ],
    "customer": [
        ("c_custkey", "i"), ("c_name", "s"), ("c_nationkey", "i"),
        ("c_acctbal", "d"), ("c_mktsegment", "s"),
    ],
    "part": [
        ("p_partkey", "i"), ("p_name", "s"), ("p_brand", "s"),
        ("p_type", "s"), ("p_size", "i"), ("p_retailprice", "d"),
    ],
    "supplier": [
        ("s_suppkey", "i"), ("s_name", "s"), ("s_nationkey", "i"),
        ("s_acctbal", "d"),
    ],
    "events": [
        ("event_id", "i"), ("ts", "t"), ("user_id", "i"),
        ("event_type", "s"), ("value", "d"), ("props", "s"),
    ],
    "documents": [
        ("doc_id", "i"), ("text", "s"), ("lang", "s"),
        ("source", "s"), ("n_chars", "i"),
    ],
}

# ORDER BY prefix per table. LIMIT needs a TOTAL order: the generator
# appends every remaining column as a tiebreaker, and build_pools
# verifies full-row uniqueness per table (the synthetic lineitem has
# duplicate (l_orderkey, l_linenumber) pairs — found by this fuzzer's
# own first soak as a false positive); tables with duplicate full
# rows get no LIMIT at all.
PKS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
}


def order_clause(t: str) -> str:
    """Deterministic total order: PK prefix + every other column."""
    rest = [c for c, _ in SCHEMAS[t] if c not in PKS[t]]
    return ", ".join(list(PKS[t]) + rest)

# low-cardinality group-key candidates
LOWCARD: dict[str, list[str]] = {
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_nationkey"],
    "part": ["p_brand", "p_size"],
    "supplier": ["s_nationkey"],
    "events": ["event_type"],
    "documents": ["lang", "source"],
}

# known-non-negative integer columns (safe for %)
NONNEG = {
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "o_orderkey", "o_custkey", "c_custkey", "c_nationkey",
    "p_partkey", "p_size", "s_suppkey", "s_nationkey",
    "event_id", "user_id", "doc_id", "n_chars",
}

# FK join pairs: (left, right, left_key, right_key)
JOINS = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("customer", "supplier", "c_nationkey", "s_nationkey"),
]

TS_LITS = [
    "2023-03-15 00:00:00", "2023-09-01 12:00:00", "2024-01-05 00:00:00",
    "2024-06-30 23:59:59", "2024-11-11 08:00:00", "2025-04-01 00:00:00",
]


# -------------------------------------------------------------- generator


class QueryGen:
    """Seeded generator of portable-SQL query strings."""

    def __init__(self, seed: int, pools: dict[str, dict[str, list]],
                 limit_safe: set[str] | None = None):
        self.rng = random.Random(seed)
        self.pools = pools  # table -> col -> sampled distinct values
        # tables whose FULL rows are unique (LIMIT under a total order
        # is then a deterministic row set); None = assume all safe
        self.limit_safe = SCHEMAS.keys() if limit_safe is None else limit_safe

    def _limit(self, t: str, n: int) -> str:
        return f" LIMIT {n}" if t in self.limit_safe else ""

    # -- helpers
    def cols(self, table: str, kind: str) -> list[str]:
        return [c for c, k in SCHEMAS[table] if k == kind]

    def pick(self, xs):
        return xs[self.rng.randrange(len(xs))]

    def sample_val(self, table: str, col: str):
        vals = self.pools.get(table, {}).get(col)
        return self.pick(vals) if vals else None

    def slit(self, table: str, col: str) -> str:
        v = self.sample_val(table, col)
        if v is None:
            v = "x"
        return "'" + str(v).replace("'", "''") + "'"

    # -- typed expressions
    def int_expr(self, t: str, depth: int = 0) -> str:
        r = self.rng
        ics = self.cols(t, "i")
        if depth >= 2 or r.random() < 0.35:
            if r.random() < 0.7 and ics:
                return self.pick(ics)
            return str(r.randint(-5, 500))
        choice = r.randrange(7)
        if choice == 0:
            return f"({self.int_expr(t, depth+1)} + {self.int_expr(t, depth+1)})"
        if choice == 1:
            return f"({self.int_expr(t, depth+1)} - {self.int_expr(t, depth+1)})"
        if choice == 2:
            return f"({self.int_expr(t, depth+1)} * {r.randint(2, 37)})"
        if choice == 3:
            return f"ABS({self.int_expr(t, depth+1)})"
        if choice == 4:
            scs = self.cols(t, "s")
            if scs:
                return f"LENGTH({self.pick(scs)})"
            return self.int_expr(t, depth + 1)
        if choice == 5:
            tcs = self.cols(t, "t")
            if tcs:
                part = self.pick(["YEAR", "MONTH", "DAY"])
                return f"CAST(EXTRACT({part} FROM {self.pick(tcs)}) AS BIGINT)"
            return self.int_expr(t, depth + 1)
        return (
            f"(CASE WHEN {self.pred(t, depth+1)} THEN "
            f"{self.int_expr(t, depth+1)} ELSE {self.int_expr(t, depth+1)} END)"
        )

    def dbl_expr(self, t: str, depth: int = 0) -> str:
        r = self.rng
        dcs = self.cols(t, "d")
        if depth >= 2 or r.random() < 0.4 or not dcs:
            if dcs and r.random() < 0.75:
                return self.pick(dcs)
            return repr(round(r.uniform(-100, 1000), 2))
        choice = r.randrange(5)
        a = self.dbl_expr(t, depth + 1)
        b = self.dbl_expr(t, depth + 1)
        if choice == 0:
            return f"({a} + {b})"
        if choice == 1:
            return f"({a} - {b})"
        if choice == 2:
            return f"({a} * {b})"
        if choice == 3:
            return f"ABS({a})"
        return f"(CASE WHEN {self.pred(t, depth+1)} THEN {a} ELSE {b} END)"

    def str_expr(self, t: str, depth: int = 0) -> str:
        r = self.rng
        scs = self.cols(t, "s")
        if not scs:
            return "'k'"
        col = self.pick(scs)
        if depth >= 2 or r.random() < 0.45:
            return col
        choice = r.randrange(5)
        inner = self.str_expr(t, depth + 1)
        if choice == 0:
            return f"UPPER({inner})"
        if choice == 1:
            return f"LOWER({inner})"
        if choice == 2:
            return f"SUBSTR({inner}, 1, {r.randint(1, 6)})"
        if choice == 3:
            return f"TRIM({inner})"
        return f"({inner} || {self.slit(t, col)})"

    def any_expr(self, t: str, depth: int = 0) -> tuple[str, str]:
        kind = self.pick(["i", "i", "d", "s"])
        if kind == "i":
            return self.int_expr(t, depth), "i"
        if kind == "d":
            return self.dbl_expr(t, depth), "d"
        return self.str_expr(t, depth), "s"

    # -- predicates
    def pred(self, t: str, depth: int = 0) -> str:
        r = self.rng
        if depth < 2 and r.random() < 0.4:
            op = self.pick(["AND", "OR"])
            p = f"({self.pred(t, depth+1)} {op} {self.pred(t, depth+1)})"
            return f"(NOT {p})" if r.random() < 0.15 else p
        choice = r.randrange(6)
        if choice == 0:  # int comparison
            op = self.pick(["=", "<>", "<", "<=", ">", ">="])
            return f"({self.int_expr(t, depth+1)} {op} {self.int_expr(t, depth+1)})"
        if choice == 1:  # double comparison vs literal
            op = self.pick(["<", "<=", ">", ">="])
            return f"({self.dbl_expr(t, depth+1)} {op} {repr(round(r.uniform(-50, 800), 2))})"
        if choice == 2:  # string point / IN / LIKE
            scs = self.cols(t, "s")
            if not scs:
                return self.pred(t, depth + 1)
            col = self.pick(scs)
            sub = r.randrange(3)
            if sub == 0:
                return f"({col} {self.pick(['=', '<>'])} {self.slit(t, col)})"
            if sub == 1:
                lits = {self.slit(t, col) for _ in range(r.randint(2, 4))}
                return f"({col} IN ({', '.join(sorted(lits))}))"
            v = self.sample_val(t, col)
            prefix = str(v)[: r.randint(1, 3)].replace("'", "''").replace("%", "").replace("_", "") if v else "a"
            return f"({col} LIKE '{prefix}%')"
        if choice == 3:  # timestamp range
            tcs = self.cols(t, "t")
            if not tcs:
                return self.pred(t, depth + 1)
            col = self.pick(tcs)
            if r.random() < 0.5:
                op = self.pick(["<", "<=", ">", ">="])
                return f"({col} {op} TIMESTAMP '{self.pick(TS_LITS)}')"
            a, b = sorted([self.pick(TS_LITS), self.pick(TS_LITS)])
            return f"({col} BETWEEN TIMESTAMP '{a}' AND TIMESTAMP '{b}')"
        if choice == 4:  # NULLIF-injected null test
            scs = self.cols(t, "s")
            if scs:
                col = self.pick(scs)
                neg = "" if r.random() < 0.5 else " NOT"
                return f"(NULLIF({col}, {self.slit(t, col)}) IS{neg} NULL)"
            return self.pred(t, depth + 1)
        # BETWEEN on int
        lo = r.randint(0, 200)
        return f"({self.int_expr(t, depth+1)} BETWEEN {lo} AND {lo + r.randint(1, 400)})"

    # -- group keys
    def group_key(self, t: str) -> str:
        r = self.rng
        choice = r.randrange(4)
        if choice == 0:
            return self.pick(LOWCARD[t])
        if choice == 1:
            tcs = self.cols(t, "t")
            if tcs:
                return f"CAST(EXTRACT({self.pick(['YEAR', 'MONTH'])} FROM {self.pick(tcs)}) AS BIGINT)"
        if choice == 2:
            scs = self.cols(t, "s")
            if scs:
                return f"SUBSTR({self.pick(scs)}, 1, 1)"
        nn = [c for c in self.cols(t, "i") if c in NONNEG]
        if nn:
            return f"({self.pick(nn)} % {r.randint(2, 9)})"
        return self.pick(LOWCARD[t])

    def agg_list(self, t: str, prefix: str = "") -> list[str]:
        r = self.rng
        aggs = [f"COUNT(*) AS {prefix}cnt"]
        n = r.randint(1, 3)
        for i in range(n):
            choice = r.randrange(4)
            if choice == 0:
                aggs.append(
                    f"CAST(SUM({self.int_expr(t, 1)}) AS BIGINT) AS {prefix}s{i}"
                )
            elif choice == 1:
                e, _ = self.any_expr(t, 1)
                aggs.append(f"MIN({e}) AS {prefix}mn{i}")
            elif choice == 2:
                e, _ = self.any_expr(t, 1)
                aggs.append(f"MAX({e}) AS {prefix}mx{i}")
            else:
                e, _ = self.any_expr(t, 1)
                aggs.append(f"COUNT(DISTINCT {e}) AS {prefix}cd{i}")
        return aggs

    # -- query shapes
    def q_filter_order(self) -> str:
        t = self.pick(list(SCHEMAS))
        pk = PKS[t]
        exprs = []
        for i in range(self.rng.randint(1, 3)):
            e, _ = self.any_expr(t)
            exprs.append(f"{e} AS e{i}")
        sel = ", ".join(list(pk) + exprs)
        return (
            f"SELECT {sel} FROM {t} WHERE {self.pred(t)} "
            f"ORDER BY {order_clause(t)}{self._limit(t, self.rng.randint(10, 200))}"
        )

    def q_group_agg(self) -> str:
        t = self.pick(list(SCHEMAS))
        nkeys = self.rng.randint(1, 2)
        keys = []
        for i in range(nkeys):
            keys.append(f"{self.group_key(t)} AS g{i}")
        gcols = ", ".join(f"g{i}" for i in range(nkeys))
        sel = ", ".join(keys + self.agg_list(t))
        having = (
            f" HAVING COUNT(*) > {self.rng.randint(0, 3)}"
            if self.rng.random() < 0.4
            else ""
        )
        return (
            f"SELECT {sel} FROM {t} WHERE {self.pred(t)} "
            f"GROUP BY {gcols}{having}"
        )

    def q_join_agg(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        key = f"{self.group_key(lt)}"
        sel = ", ".join([f"{key} AS g0"] + self.agg_list(lt) + self.agg_list(rt, "r"))
        # one shallow predicate per side at most — two deep ANDed
        # predicates leave most joins empty (a 0-row diff tests nothing)
        preds = []
        if self.rng.random() < 0.7:
            preds.append(self.pred(lt, depth=1))
        if self.rng.random() < 0.5:
            preds.append(self.pred(rt, depth=1))
        where = f" WHERE {' AND '.join(preds)}" if preds else ""
        return (
            f"SELECT {sel} FROM {lt} JOIN {rt} ON {lk} = {rk}"
            f"{where} GROUP BY g0"
        )

    def q_window(self) -> str:
        t = self.pick(list(SCHEMAS))
        pk = PKS[t]
        g = self.pick(LOWCARD[t])
        e, _ = self.any_expr(t, 1)
        fn = self.pick(["RANK()", "DENSE_RANK()"])
        sel = (
            f"{', '.join(pk)}, "
            f"{fn} OVER (PARTITION BY {g} ORDER BY {e}, {', '.join(pk)}) AS rnk, "
            f"CAST(SUM({self.int_expr(t, 1)}) OVER (PARTITION BY {g}) AS BIGINT) AS wsum"
        )
        return (
            f"SELECT {sel} FROM {t} WHERE {self.pred(t)} "
            f"ORDER BY {order_clause(t)}{self._limit(t, 500)}"
        )

    def q_subquery(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        pk = PKS[lt]
        neg = "NOT " if self.rng.random() < 0.3 else ""
        return (
            f"SELECT {', '.join(pk)} FROM {lt} "
            f"WHERE {self.pred(lt)} AND {lk} {neg}IN "
            f"(SELECT {rk} FROM {rt} WHERE {self.pred(rt)}) "
            f"ORDER BY {order_clause(lt)}{self._limit(lt, 200)}"
        )

    def q_outer_join_agg(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        jt = self.pick(["LEFT", "FULL OUTER"])
        key = self.group_key(lt)
        rcs = self.cols(rt, "i") + self.cols(rt, "d")
        rcol = self.pick(rcs)
        sel = ", ".join(
            [f"{key} AS g0", "COUNT(*) AS cnt", f"COUNT({rcol}) AS rnn",
             f"MIN({rcol}) AS rmn", f"MAX({rcol}) AS rmx"]
        )
        # predicate on the LEFT side only (a right-side WHERE pred on
        # an outer join reduces it to inner — legal but uninteresting)
        where = f" WHERE {self.pred(lt, depth=1)}" if self.rng.random() < 0.7 else ""
        return (
            f"SELECT {sel} FROM {lt} {jt} JOIN {rt} ON {lk} = {rk}"
            f"{where} GROUP BY g0"
        )

    def q_rollup_agg(self) -> str:
        t = self.pick(list(SCHEMAS))
        g0, g1 = self.pick(LOWCARD[t]), self.group_key(t)
        form = self.pick([
            f"ROLLUP({g0}, {g1})",
            f"CUBE({g0}, {g1})",
            f"GROUPING SETS (({g0}), ({g1}), ())",
        ])
        sel = (
            f"{g0} AS g0, {g1} AS g1, "
            f"CAST(GROUPING({g0}) AS BIGINT) AS gf0, "
            f"COUNT(*) AS cnt, "
            f"CAST(SUM({self.int_expr(t, 1)}) AS BIGINT) AS s0"
        )
        # HAVING cnt>0 pins a REAL dialect divergence this fuzzer
        # found (seeds 5017/5027/5117): over EMPTY input, the SQL
        # standard's empty grouping set () yields one global row
        # (DuckDB/Postgres: COUNT=0) while Spark expands grouping
        # sets over input groups and returns NO rows. The HAVING
        # removes the zero-count global row from both engines.
        return (
            f"SELECT {sel} FROM {t} WHERE {self.pred(t)} GROUP BY {form} "
            f"HAVING COUNT(*) > 0"
        )

    def q_exists_corr(self) -> str:
        lt, rt, lk, rk = self.pick(JOINS)
        # correlate the RIGHT side back to the left row (semi/anti join
        # the optimizer must plan; DuckDB plans the same semantics)
        neg = "NOT " if self.rng.random() < 0.4 else ""
        pk = PKS[lt]
        return (
            f"SELECT {', '.join(pk)} FROM {lt} WHERE {self.pred(lt, depth=1)} "
            f"AND {neg}EXISTS (SELECT 1 FROM {rt} WHERE {rk} = {lk} "
            f"AND {self.pred(rt, depth=1)}) "
            f"ORDER BY {order_clause(lt)}{self._limit(lt, 300)}"
        )

    def q_distinct_proj(self) -> str:
        t = self.pick(list(SCHEMAS))
        exprs = []
        for i in range(self.rng.randint(1, 3)):
            e, _ = self.any_expr(t, 1)
            exprs.append(f"{e} AS e{i}")
        return (
            f"SELECT DISTINCT {', '.join(exprs)} FROM {t} "
            f"WHERE {self.pred(t)}"
        )

    def q_setop(self) -> str:
        t = self.pick(list(SCHEMAS))
        op = self.pick(["UNION", "INTERSECT", "EXCEPT"])
        scs = self.cols(t, "s")
        ics = self.cols(t, "i")
        cols = f"{self.pick(scs) if scs else self.pick(ics)}, {self.pick(ics)}"
        return (
            f"SELECT {cols} FROM {t} WHERE {self.pred(t)} "
            f"{op} SELECT {cols} FROM {t} WHERE {self.pred(t)}"
        )

    SHAPES = (
        "filter_order", "group_agg", "join_agg",
        "window", "subquery", "setop",
        "outer_join_agg", "rollup_agg", "exists_corr", "distinct_proj",
    )

    def gen(self, shape: str | None = None) -> tuple[str, str]:
        s = shape or self.SHAPES[self.rng.randrange(len(self.SHAPES))]
        return s, getattr(self, "q_" + s)()


# ------------------------------------------------------------- comparison


def fuzz_norm(v) -> str:
    """Order-insensitive cell canon. Unlike the driver's view, an
    integral float and an int canonicalize identically here — Spark
    tuples keep Python ints where DuckDB's .df() may widen a
    NULL-bearing int column to float64; the fuzzer compares VALUES,
    not carrier dtypes (the dtype contract is the registry's job,
    tests/test_oracle_dtypes.py)."""
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "<null>"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(round(v, 6))
    return str(v)


def result_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("|".join(fuzz_norm(r[i]) for r in [row] for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def run_one(spark, con, sql: str) -> tuple[bool, str]:
    sdf = spark.sql(sql)
    spdf = pd.DataFrame([tuple(r) for r in sdf.collect()], columns=sdf.columns)
    srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    res = con.sql(sql)
    dpdf = res.df()
    drows = [tuple(r) for r in dpdf.itertuples(index=False, name=None)]
    if len(srows) != len(drows):
        return False, f"rows {len(srows)} vs {len(drows)}"
    sh = result_hash(srows, list(sdf.columns))
    dh = result_hash(drows, list(res.columns))
    if sh != dh:
        sset = {
            "|".join(fuzz_norm(r[i]) for i in range(len(r))) for r in srows
        }
        dset = {
            "|".join(fuzz_norm(r[i]) for i in range(len(r))) for r in drows
        }
        return False, (
            f"hash {sh} vs {dh}; spark-only={list(sset - dset)[:2]} "
            f"duck-only={list(dset - sset)[:2]}"
        )
    return True, f"rows={len(srows)}"


def build_pools(con) -> tuple[dict[str, dict[str, list]], set[str]]:
    """Sample up to 8 distinct values per string column (selective
    literals for eq/IN/LIKE — random strings would never match) and
    determine which tables have unique full rows (LIMIT-safe)."""
    pools: dict[str, dict[str, list]] = {}
    limit_safe: set[str] = set()
    for t, cols in SCHEMAS.items():
        pools[t] = {}
        for c, k in cols:
            if k != "s":
                continue
            vals = [
                r[0]
                for r in con.sql(
                    f"SELECT DISTINCT {c} FROM {t} WHERE {c} IS NOT NULL "
                    f"ORDER BY {c} LIMIT 8"
                ).fetchall()
            ]
            pools[t][c] = vals
        all_cols = ", ".join(c for c, _ in cols)
        n, nd = con.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT ({all_cols})) FROM {t}"
        ).fetchone()
        if n == nd:
            limit_safe.add(t)
    return pools, limit_safe


def run_fuzz(spark, con, n: int, seed0: int = 0, shape: str | None = None,
             verbose: bool = True) -> list[tuple[int, str, str, str]]:
    pools, limit_safe = build_pools(con)
    failures = []
    for i in range(n):
        seed = seed0 + i
        gen = QueryGen(seed, pools, limit_safe)
        sh = shape or QueryGen.SHAPES[seed % len(QueryGen.SHAPES)]
        _, sql = gen.gen(sh)
        t0 = time.time()
        try:
            ok, detail = run_one(spark, con, sql)
        except Exception as ex:
            ok, detail = False, f"error: {type(ex).__name__}: {str(ex)[:300]}"
        if ok:
            if verbose:
                print(f"PASS seed={seed} {sh} {detail} [{time.time()-t0:.1f}s]")
        else:
            failures.append((seed, sh, sql, detail))
            print(f"FAIL seed={seed} {sh}: {detail}\n  SQL: {sql}")
    return failures


def register_views(spark, con, sf: str, via: str = "parquet",
                   cache_dir: str | None = None) -> None:
    """Spark views over the test tables. ``via="parquet"`` reads the
    driver parquet directly; ``via="nimble"`` writes each table ONCE
    as a nimble_spark table (cached across runs) and registers
    ``spark.read.format("nimble")`` views — the same SQL then drives
    the whole Python-DataSource read path, and any divergence from
    DuckDB (which always reads the ORIGINAL parquet) is a connector
    bug, not a dialect one."""
    import os

    for t in SCHEMAS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        if via == "parquet":
            spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
            continue
        from nimble_spark.sources.datasource import register_nimble_source
        from nimble_spark.sources.table import WriteOptions, write_table

        register_nimble_source(spark)
        root = cache_dir or os.path.join(
            "/tmp", "nimble_fuzz_tables", os.path.basename(sf.rstrip("/"))
        )
        path = os.path.join(root, t)
        if not os.path.exists(os.path.join(path, "_nimble", "manifest.json")):
            write_table(spark.read.parquet(f"{sf}/{t}.parquet"), path, WriteOptions())
        spark.read.format("nimble").load(path).createOrReplaceTempView(t)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100)
    ap.add_argument("--seed0", type=int, default=0)
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--shape", default=None, choices=(None, *QueryGen.SHAPES))
    ap.add_argument(
        "--via", default="parquet", choices=("parquet", "nimble"),
        help="nimble = Spark reads format('nimble') tables (connector "
        "differential); DuckDB always reads the original parquet",
    )
    args = ap.parse_args()

    from nimble_spark import get_spark

    spark = get_spark("query_fuzz")
    con = duckdb.connect()
    register_views(spark, con, args.sf, args.via)

    failures = run_fuzz(spark, con, args.n, args.seed0, args.shape)
    print(f"\n{args.n - len(failures)}/{args.n} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
