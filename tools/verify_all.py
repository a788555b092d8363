"""One-command verify gate: driver-sim + oracle replica + pytest + bench.

Runs, in order, and FAILS LOUDLY (exit nonzero) on the first red:

1. driver simulation — fresh subprocess from a foreign cwd with a PLAIN
   SparkSession (the exact contract the external harness exercises);
2. ``tools/check_oracle.py`` at sf0.01 — every registry query vs DuckDB;
3. ``pytest tests/`` — unit + semantic suites;
4. ``bench.py`` — must emit its one-line JSON (a crash here is a red).

Appends one JSON line per run to PROGRESS.jsonl so each verify is on the
record. Run this before every end-of-round commit — a repo-wide breakage
must never survive a round again (round-3 postmortem).

Usage: python tools/verify_all.py [--fast] [--deep] [--scaleup]
  --fast     skip pytest and bench (oracle gate + driver sim only)
  --deep     additionally run the full oracle gate at sf0.1 (10x tier)
  --scaleup  additionally run the sf1 scale gate (tools/scaleup_bench.py
             --gate): 20 wide keys' sf1/sf0.1 ratios vs pinned budgets +
             ANN recall floors at both tiers — FAILS on any violation
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_SIM = (
    f"import sys; sys.path.insert(0, {REPO!r})\n"
    "from pyspark.sql import SparkSession\n"
    "spark = (SparkSession.builder.master('local[8]')\n"
    "         .config('spark.ui.enabled','false').getOrCreate())\n"
    "import __spark_entry__ as e\n"
    "rows = e.entry(spark).collect()\n"
    "assert len(rows) >= 1, 'entry() returned 0 rows'\n"
    "q, o = e.queries(), e.oracle_sql()\n"
    "assert set(o) <= set(q), 'oracle keys not subset of query keys'\n"
    "print(f'driver-sim ok: {len(rows)} entry rows, {len(q)} queries, {len(o)} oracles')\n"
)


def run(label: str, cmd: list[str], cwd: str = REPO) -> float:
    t0 = time.time()
    print(f"--- {label}: {' '.join(cmd[:4])} ...", flush=True)
    proc = subprocess.run(cmd, cwd=cwd)
    dt = time.time() - t0
    if proc.returncode != 0:
        print(f"!!! {label} FAILED (rc={proc.returncode}, {dt:.1f}s)", flush=True)
        _record(label, False, dt)
        sys.exit(proc.returncode or 1)
    print(f"--- {label} ok ({dt:.1f}s)", flush=True)
    return dt


def _record(stage: str, ok: bool, seconds: float) -> None:
    entry = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "event": "verify_all",
        "stage": stage,
        "ok": ok,
        "seconds": round(seconds, 1),
    }
    with open(f"{REPO}/PROGRESS.jsonl", "a") as f:
        f.write(json.dumps(entry) + "\n")


def main() -> int:
    fast = "--fast" in sys.argv
    deep = "--deep" in sys.argv
    t0 = time.time()
    run("driver-sim", [sys.executable, "-c", DRIVER_SIM], cwd="/tmp")
    run("oracle-gate", [sys.executable, "tools/check_oracle.py", "/root/testdata/sf0.01"])
    if not fast:
        run("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"])
        run("bench", [sys.executable, "bench.py"])
    if deep:
        # 10x-scale oracle sweep: catches rounding-boundary and oracle-cost
        # regressions the sf0.01 tier misses (r6 found anomaly_mad's ROUND
        # divergence and er_golden_record's 867s oracle this way)
        # --require-nonempty: a 0-row oracled result at the deep tier is a
        # hard red — catches both vacuous predicates and fixture drift
        # (r6 verdict: two oracles were green-by-vacuity for five rounds)
        run(
            "oracle-gate-sf0.1",
            [
                sys.executable,
                "tools/check_oracle.py",
                "--require-nonempty",
                "/root/testdata/sf0.1",
            ],
        )
    if "--scaleup" in sys.argv:
        # the r13 sf1 audit found a real 118x defect; keep it a GATE, not
        # an optional audit (VERDICT r13 item 3)
        run("scale-gate-sf1", [sys.executable, "tools/scaleup_bench.py", "--gate"])
    _record("all", True, time.time() - t0)
    mode = " fast" if fast else (" deep" if deep else "")
    print(f"=== verify_all GREEN ({time.time() - t0:.1f}s{mode}) ===")
    return 0


if __name__ == "__main__":
    sys.exit(main())
