"""Generate QUERIES.md — the full declared-query catalog — from the
registry, so the document can never drift from the code.  Run:

    python scripts/gen_query_catalog.py > QUERIES.md

tests/test_oracle_parity.py asserts the committed file is current.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def render() -> str:
    from mqtt2clickhouse_spark.queries import QUERIES

    lines = [
        "# Query catalog",
        "",
        "Generated by `scripts/gen_query_catalog.py` — do not edit by hand.",
        "",
        f"{len(QUERIES)} declared queries, "
        f"{sum(1 for s in QUERIES.values() if s.oracle)} with DuckDB oracles, "
        "in registration order.",
        "",
        "| # | Query | Oracle | Description |",
        "|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(QUERIES.items(), start=1):
        oracle = "full" if spec.oracle else "rows-only"
        desc = " ".join((spec.description or "").split())
        lines.append(f"| {i} | `{name}` | {oracle} | {desc} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sys.stdout.write(render())
