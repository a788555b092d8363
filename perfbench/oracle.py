"""Correctness rule for query operations: the same column names, the same
row count and, order-insensitively, the same values, columns taken in name
order.  This restates tools/check_oracle.py (queries round on both sides;
nothing is compared loosely but floats) so that a change to the program's
own tooling cannot change how the benchmark judges the program.

Floats match within a relative 1e-9.  ``tables.warm_cache`` repartitions
the fixtures, which changes the order of floating-point sums, and a sum
near a rounding boundary then rounds one cent away from DuckDB's
(``agg_groupby``'s ``sum_disc_price`` at sf0.1).  Any real error is orders
of magnitude larger.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb

REL_TOL = 1e-9


def _cell(v):
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_cell(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def _sort_key(row: tuple) -> str:
    return repr(tuple(f"{c:.6e}" if isinstance(c, float) else c for c in row))


def canonical(rows, columns: list[str]) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted column names, rows in a canonical order with cells in name order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return tuple(sorted(columns)), out


def _same_cell(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL)
    return type(a) is type(b) and a == b


def same(got, want) -> bool:
    (gcols, grows), (wcols, wrows) = got, want
    return (
        gcols == wcols
        and len(grows) == len(wrows)
        and all(
            len(g) == len(w) and all(_same_cell(x, y) for x, y in zip(g, w))
            for g, w in zip(grows, wrows)
        )
    )


def oracle_results(sf_dir: str, tables: list[str], sql: dict[str, str]) -> dict:
    """Run each oracle query in DuckDB over the same parquet fixtures."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name, q in sql.items():
            res = con.execute(q)
            out[name] = canonical(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()
