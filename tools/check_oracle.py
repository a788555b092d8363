"""Local replica of the driver's correctness gate (SURVEY.md §3.3).

Runs every ``queries()`` entry on Spark and, where oracle SQL is registered,
the same query on DuckDB; compares row count, column names, and an
order-insensitive value multiset. Floats are compared exactly (queries are
expected to round on both sides) with a fallback tolerance report so
mismatches are diagnosable.

A hash check over an empty multiset can never catch a logic error, so any
oracled query returning 0 rows is flagged VACUOUS (r6 verdict: sql_tpch_q11
and subquery_scalar were silently green-by-vacuity for five rounds). With
``--require-nonempty`` (used by the verify_all deep tier) vacuous results
are hard failures.

Usage: python tools/check_oracle.py [--require-nonempty] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact repr: queries must round on both sides
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(norm_cell(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--require-nonempty"]
    require_nonempty = "--require-nonempty" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from fits2db_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = e.queries(), e.oracle_sql()
    fails, passes, rows_only, vacuous = [], [], [], []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {ex}")
            continue
        if name not in os_:
            rows_only.append(name)
            print(f"rows {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(os_[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: duckdb error: {type(ex).__name__}: {ex}")
            continue
        if len(srows) != len(drows):
            fails.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            continue
        if sorted(scols) != sorted(dcols):
            fails.append(name)
            print(f"FAIL {name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            continue
        ms, md = multiset(srows, scols), multiset(drows, dcols)
        if ms != md:
            fails.append(name)
            only_s = ms - md
            only_d = md - ms
            print(f"FAIL {name}: value mismatch ({sum(only_s.values())} rows differ)")
            for r in list(only_s)[:3]:
                print(f"  spark-only : {r}")
            for r in list(only_d)[:3]:
                print(f"  duckdb-only: {r}")
        elif not srows:
            vacuous.append(name)
            print(f"WARN {name}: 0 rows — VACUOUS oracle (hash check proves nothing)")
        else:
            passes.append(name)
            print(f"ok   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    if require_nonempty and vacuous:
        fails.extend(vacuous)
    print(
        f"\n{len(passes)} ok, {len(rows_only)} rows-only, "
        f"{len(vacuous)} vacuous, {len(fails)} FAILED"
        + (f": {fails}" if fails else "")
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
