"""Regenerate COVERAGE.md from the live registry.

Usage: python harness/gen_coverage.py   (writes COVERAGE.md in place)

Keeps the query inventory honest: counts, category rows, and the
rows-only tally all come from nimble_spark/registry.py, never from
hand edits.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from nimble_spark.registry import QUERIES, _load_all

    _load_all()
    by_cat: dict[str, list[str]] = defaultdict(list)
    rows_only = []
    for name, e in QUERIES.items():
        by_cat[e.category or "uncategorized"].append(name)
        if e.oracle is None:
            rows_only.append(name)

    n = len(QUERIES)
    lines = [
        "# COVERAGE — registered query inventory by category",
        "",
        "Generated by `python harness/gen_coverage.py` from",
        "`nimble_spark/registry.py` (every entry carries a DuckDB oracle;",
        "the driver hash-compares each against Spark at sf0.01 — see",
        "CORRECTNESS_r*.json; local full sweeps:",
        "`python harness/check_correctness.py`).",
        "",
        f"**{n} queries, {len(by_cat)} categories — {len(rows_only)} rows-only.**",
        "",
        "| category | n | queries |",
        "|---|---|---|",
    ]
    for cat in sorted(by_cat, key=lambda c: (-len(by_cat[c]), c)):
        qs = " ".join(f"`{q}`" for q in sorted(by_cat[cat]))
        lines.append(f"| {cat} | {len(by_cat[cat])} | {qs} |")
    if rows_only:
        lines += ["", "Rows-only (no oracle): " + " ".join(f"`{q}`" for q in sorted(rows_only))]
    lines.append("")
    with open(os.path.join(ROOT, "COVERAGE.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"COVERAGE.md: {n} queries, {len(by_cat)} categories, {len(rows_only)} rows-only")


if __name__ == "__main__":
    main()
