"""The analyst query mix and its DuckDB oracle check.

The list is pinned here rather than imported from ``bench.DEFAULT_QUERIES``
so that a change to the repo's own bench cannot silently change what this
benchmark measures.  It is 4 of the 25 entries ``bench.py`` reports: a
wide scan/aggregate (q01), a five-way join that CBO join reordering acts
on (q05), EXISTS/NOT EXISTS (q21), and PQ encoding, a scale-pipeline
operator ROADMAP names for its cold compile cost, which crosses the
Python/Arrow boundary.  The others do not fit a run of about a minute: a
cold pass over all 25 alone takes 32-60 s on a 4-core host, and MinHash
LSH dedup, the slowest and least steady of the five queries first
pinned, cost a tenth of a run on its own.
"""

from __future__ import annotations

import math

QUERIES = (
    "q01_pricing_summary",
    "q05_region_nation_revenue",
    "q21_waiting_suppliers",
    "pq_code_utilization",
)


def _normalize(value) -> str:
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else f"{value:.10g}"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def canonical(columns, rows) -> tuple:
    """Order-independent form of a result: column names plus sorted rows
    with floats at 10 significant digits (the repo's oracle convention)."""
    return tuple(columns), tuple(sorted(tuple(_normalize(v) for v in r) for r in rows))


def expected_results(con, registry, names=QUERIES) -> dict:
    """Run each query's oracle SQL on a DuckDB connection whose views name
    the generated tables; returns ``{name: canonical result}``."""
    out = {}
    for name in names:
        res = con.execute(registry[name].oracle)
        out[name] = canonical([d[0] for d in res.description], res.fetchall())
    return out
