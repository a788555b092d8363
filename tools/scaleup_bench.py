"""Synthetic ~sf1 scale-up tier + measurement (r6 verdict #4).

The 100 TB story so far is plan-shape-verified only; this tool produces the
first MEASURED evidence above sf0.1:

1. **Generate** a ~10x tier by replicating sf0.1 with FK-consistent key
   remapping (replica i offsets every key column by i*stride; region/nation
   dims copy unchanged). Documents get a per-replica leading token (`r<i> `)
   so each replica is a genuine NEAR-duplicate of its original — the
   duplicate-cluster size grows 10x, exactly the stress the LSH/shingle
   caps exist for; n_chars is recomputed. Embeddings replicate unchanged
   (10x identical vectors stress IVF/LSH bucket occupancy). Output goes to
   /tmp (the driver-owned /root/testdata is read-only).

2. **Bench** the 15 headline queries on the new tier, Spark and DuckDB,
   via the existing bench.py / tools/bench_duckdb.py (env-pointed).

3. **Candidate growth**: count LSH band-bucket candidate pairs and
   shingle-inverted-index candidate pairs at sf0.01 / sf0.1 / sf1 using
   the package's own capped builders — the claim under test is ~linear
   growth in document count (the caps bound per-bucket blowup).

Usage: python tools/scaleup_bench.py [--factor 10] [--skip-gen]
Prints one JSON document; paste the summary row into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
OUT = "/tmp/scaleup/sf1"

# key column -> replica stride (well above each column's max at sf0.1)
_STRIDES = {
    "c_custkey": 1_000_000,
    "s_suppkey": 1_000_000,
    "p_partkey": 1_000_000,
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "l_orderkey": 10_000_000,
    "l_partkey": 1_000_000,
    "l_suppkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}


def generate(factor: int) -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet'))"
            f" TO '{OUT}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t in (
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        cols = [
            d[0]
            for d in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
            ).fetchall()
        ]
        sel = []
        for c in cols:
            if c in _STRIDES:
                sel.append(f"{c} + i * {_STRIDES[c]} AS {c}")
            elif t == "documents" and c == "text":
                sel.append("concat('r', CAST(i AS VARCHAR), ' ', text) AS text")
            elif t == "documents" and c == "n_chars":
                sel.append(
                    "CAST(LENGTH(concat('r', CAST(i AS VARCHAR), ' ', text))"
                    " AS BIGINT) AS n_chars"
                )
            else:
                sel.append(c)
        con.execute(
            f"COPY (SELECT {', '.join(sel)}"
            f" FROM read_parquet('{SRC}/{t}.parquet')"
            f" CROSS JOIN (SELECT unnest(range({factor})) AS i))"
            f" TO '{OUT}/{t}.parquet' (FORMAT PARQUET)"
        )


def run_benches() -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=OUT)
    out = {}
    for label, cmd in (
        ("spark", [sys.executable, "bench.py"]),
        ("duckdb", [sys.executable, "tools/bench_duckdb.py", OUT]),
    ):
        t0 = time.time()
        proc = subprocess.run(
            cmd, cwd=REPO, env=env, capture_output=True, text=True
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"{label} bench exited rc={proc.returncode}; "
                f"stderr tail:\n{proc.stderr[-2000:]}"
            )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(
                f"{label} bench printed no JSON line; "
                f"stdout tail:\n{proc.stdout[-1000:]}\n"
                f"stderr tail:\n{proc.stderr[-1000:]}"
            )
        out[label] = json.loads(lines[-1])
        out[label]["wall_sec"] = round(time.time() - t0, 1)
    return out


def candidate_growth() -> list[dict]:
    from fits2db_spark.operators.llm_text import (
        _bands,
        _doc_shingle_arrays,
        _jaccard_candidates,
        _lsh_candidates,
        _shingles,
    )
    from fits2db_spark.session import get_spark
    from fits2db_spark.tables import load

    spark = get_spark("scaleup_candidates", shuffle_partitions=8)
    rows = []
    for tier in ("/root/testdata/sf0.01", "/root/testdata/sf0.1", OUT):
        d = load(spark, tier, "documents")
        n_docs = d.count()
        lsh = _lsh_candidates(_bands(_doc_shingle_arrays(d))).count()
        jac = _jaccard_candidates(_shingles(d)).count()
        rows.append(
            {
                "tier": tier,
                "docs": n_docs,
                "lsh_candidate_pairs": lsh,
                "shingle_candidate_pairs": jac,
                "lsh_pairs_per_doc": round(lsh / n_docs, 2),
                "shingle_pairs_per_doc": round(jac / n_docs, 2),
            }
        )
    return rows


def wide_scaleup(cap_sec: float = 90.0) -> dict:
    """r12 verdict item 3: measure the WIDE tier (bench.py's 20 pinned
    graph/ANN/streaming/iterative keys) at sf0.1 vs the synthetic ~sf1
    tier, Spark AND the DuckDB oracle leg, per key — the first measured
    scale-up evidence for exactly the families whose local sf0.1 numbers
    look worst (fixed-floor-bound).  Spark runs are best-of-1 in one
    shared session per the wide-tier convention (construction inside the
    timed window — the iterative keys materialize checkpoints while
    building).  DuckDB oracles run under a ``cap_sec`` interrupt because
    several are deliberately quadratic reference formulations (the oracle
    checks results, not plans) and would not finish at sf1; a capped
    entry reports ``null`` with ``">cap"`` in the notes — that asymmetry
    IS the scale-up finding."""
    import threading

    from bench import WIDE
    from fits2db_spark.registry import all_oracles, all_queries
    from fits2db_spark.session import get_spark
    from fits2db_spark.tables import warm_cache
    from tools.bench_duckdb import TABLES

    spark = get_spark("scaleup_wide", shuffle_partitions=8)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = all_queries()
    oracles = all_oracles()

    tiers = {"sf0.1": SRC, "sf1": OUT}
    spark_t: dict[str, dict[str, float]] = {k: {} for k in tiers}
    duck_t: dict[str, dict[str, float | None]] = {k: {} for k in tiers}
    capped: list[str] = []
    for label, sf_dir in tiers.items():
        warm_cache(spark, sf_dir, partitions=8)
        for name in WIDE:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark_t[label][name] = round(time.time() - t0, 3)
            print(
                f"spark {label} {name}: {spark_t[label][name]}s", file=sys.stderr
            )
        con = duckdb.connect()
        con.execute("SET threads TO 32")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in WIDE:
            sql = oracles.get(name)
            if sql is None:
                duck_t[label][name] = None  # rows-only key, no oracle
                continue
            timer = threading.Timer(cap_sec, con.interrupt)
            timer.start()
            t0 = time.time()
            try:
                con.execute(sql).fetchall()
                duck_t[label][name] = round(time.time() - t0, 3)
            except duckdb.Error:
                duck_t[label][name] = None
                capped.append(f"{label}:{name}")
            finally:
                timer.cancel()
            print(
                f"duck  {label} {name}: {duck_t[label][name]}s", file=sys.stderr
            )
        con.close()

    rows = []
    for name in WIDE:
        s01, s1 = spark_t["sf0.1"][name], spark_t["sf1"][name]
        d01, d1 = duck_t["sf0.1"][name], duck_t["sf1"][name]
        rows.append(
            {
                "key": name,
                "spark_sf01": s01,
                "spark_sf1": s1,
                "spark_scaleup_x": round(s1 / s01, 2) if s01 else None,
                "duck_sf01": d01,
                "duck_sf1": d1,
                "duck_scaleup_x": round(d1 / d01, 2) if d01 and d1 else None,
                "ratio_sf1": round(s1 / d1, 2) if d1 else None,
            }
        )
    return {
        "cap_sec": cap_sec,
        "spark_total_sf01": round(sum(spark_t["sf0.1"].values()), 2),
        "spark_total_sf1": round(sum(spark_t["sf1"].values()), 2),
        "duck_capped_or_skipped": capped,
        "per_key": rows,
    }


# --- standing scale gate (VERDICT r13 items 3/4/7) -------------------------
# Per-key sf1/sf0.1 wall-clock budgets. Default: 10x for 10x data. The
# documented floors are pinned at their measured ratios plus slack:
#   events_granger   r13 read 15.3x COLD; under the gate's warm_cache +
#                    memo-evict protocol it measures 0.85x-1.46x (r14
#                    close + session-23 gates) — the daily lag frame x
#                    trial grid is day-span bound, not row bound.
#                    Tightened 20x -> 5x in r14 session 23 (the VERDICT
#                    r13 item-4 follow-through): 3.4x headroom over the
#                    worst gate reading, and a real scale defect in the
#                    lag-join would now trip it.
#   stream_live_dedup 7.0x (pre-r14); r14 one-batch/one-shard drain
#                    measures 1.38x — kept at 12x as a tripwire because
#                    state-store timing is the gate's noisiest reading.
#   join_xmatch_knn  r14 measured 11.2x: the replicated fixture sky is
#                    CLUMPED (10 near-coincident replicas per object), so
#                    the true in-radius candidate density per row grows
#                    ~3x on top of the 10x rows — the output-bound floor
#                    of an exact-verify kNN. The radius ladder already
#                    cut sf1 from 153s (r13) to ~80s; the ratio is pinned
#                    at the measured enumeration floor, not 10x.
_SCALE_BUDGET_DEFAULT = 10.0
_SCALE_BUDGETS = {
    "events_granger": 5.0,
    "stream_live_dedup": 12.0,
    "join_xmatch_knn": 15.0,
}
# Keys whose sf1 absolute time is below this are never violations: ratio
# gating on sub-5s numbers grades scheduler noise, not plan shape.
_SCALE_ABS_FLOOR_SEC = 5.0
# Absolute sf1 wall-clock ceilings (seconds) for the r14 single-Arrow-task
# conversions (VERDICT r14 item 6): each moved a loop into ONE executor
# task sized by a BOUNDED input (BPE: the distinct-word table; MMR:
# k x topn^2 per query shard; power iteration / PCA: the d^2 Gram; Lloyd:
# k x (d+1) partials). The ratio gate cannot see a fixture change that
# unbounds one of those inputs (the ratio would stay plausible while the
# task heads toward OOM), so these pin generous ABSOLUTE budgets (~5x the
# r15-measured sf1 times) that such a change would trip first.
# r15 gate measured sf1 (best-of-1, shared session): bpe 0.79s, mmr 2.06s,
# power-iter 0.68s, pca 0.55s, kmeans 2.13s, ivf 3.40s.
_SCALE_ABS_BUDGETS_SEC: dict[str, float] = {
    "bpe_train_merges": 8.0,
    "sim_mmr_rerank": 12.0,
    "vec_power_iteration": 5.0,
    "vec_pca_evr": 5.0,
    "vec_kmeans": 12.0,
    "sim_ann_ivf": 18.0,
}
# ANN recall@3 floors at BOTH tiers (VERDICT r13 item 7) — fixture-scale
# pytest floors are 0.9 (LSH) / 0.85 (IVF); the sf1 tier replicates every
# embedding 10x, which stresses bucket occupancy, so pin slightly below.
_RECALL_FLOORS = {"sim_ann_lsh": 0.85, "sim_ann_ivf": 0.80}


def _ivf_recall(spark, qs, sf_dir: str) -> float:
    """recall@3 of sim_ann_ivf vs sim_topk_bruteforce at ``sf_dir`` —
    the same composition tests/test_rows_only_quality.py asserts at
    fixture scale, evaluated distributed (only the matched-count reaches
    the driver)."""
    from pyspark.sql import functions as F

    bf = (
        qs["sim_topk_bruteforce"](spark, sf_dir)
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id")
    )
    ivf = qs["sim_ann_ivf"](spark, sf_dir).select("query_id", "neighbor_id")
    n_truth = bf.count()
    n_hit = bf.join(ivf, ["query_id", "neighbor_id"], "left_semi").count()
    return n_hit / n_truth if n_truth else 0.0


def scale_gate() -> int:
    """Run the 20 pinned wide keys at sf0.1 and the synthetic sf1 tier and
    FAIL (exit 1) on any key whose scale-up ratio exceeds its budget, or
    any ANN recall below its floor. The r13 round proved this measurement
    finds real defects (join_xmatch_knn's 118x); this makes it a standing
    gate instead of an optional audit."""
    if not os.path.exists(os.path.join(OUT, "embeddings.parquet")):
        t0 = time.time()
        generate(10)
        print(f"generated {OUT} in {time.time()-t0:.1f}s", file=sys.stderr)

    from bench import WIDE
    from pyspark.sql import functions as F

    from fits2db_spark.registry import all_queries
    from fits2db_spark.session import free_memo_checkpoints, get_spark
    from fits2db_spark.tables import warm_cache

    spark = get_spark("scale_gate", shuffle_partitions=8)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = all_queries()
    tiers = {"sf0.1": SRC, "sf1": OUT}
    times: dict[str, dict[str, float]] = {k: {} for k in tiers}
    recalls: dict[str, dict[str, float]] = {k: {} for k in tiers}
    for label, sf_dir in tiers.items():
        warm_cache(spark, sf_dir, partitions=8)
        for name in WIDE:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[label][name] = round(time.time() - t0, 3)
            print(f"{label} {name}: {times[label][name]}s", file=sys.stderr)
        lsh_recall = (
            qs["sim_ann_recall_eval"](spark, sf_dir)
            .agg(F.avg("recall_at_3"))
            .collect()[0][0]
        )
        recalls[label] = {
            "sim_ann_lsh": round(float(lsh_recall), 4),
            "sim_ann_ivf": round(_ivf_recall(spark, qs, sf_dir), 4),
        }
        free_memo_checkpoints()  # no cross-tier block bleed

    violations: list[str] = []
    rows = []
    for name in WIDE:
        s01, s1 = times["sf0.1"][name], times["sf1"][name]
        budget = _SCALE_BUDGETS.get(name, _SCALE_BUDGET_DEFAULT)
        ratio = round(s1 / s01, 2) if s01 > 0 else None
        bad = (
            ratio is not None
            and ratio > budget
            and s1 > _SCALE_ABS_FLOOR_SEC
        )
        if bad:
            violations.append(f"{name}: {ratio}x > budget {budget}x ({s01}s -> {s1}s)")
        abs_budget = _SCALE_ABS_BUDGETS_SEC.get(name)
        if abs_budget is not None and s1 > abs_budget:
            bad = True
            violations.append(
                f"{name}: sf1 {s1}s > absolute budget {abs_budget}s "
                "(a bounded single-task input may have become unbounded)"
            )
        rows.append(
            {"key": name, "sf01": s01, "sf1": s1, "x": ratio, "budget": budget,
             "abs_budget": abs_budget, "ok": not bad}
        )
    for tier, floors in recalls.items():
        for key, rec in floors.items():
            if rec < _RECALL_FLOORS[key]:
                violations.append(
                    f"{key}@{tier}: recall {rec} < floor {_RECALL_FLOORS[key]}"
                )
    print(
        json.dumps(
            {
                "gate": "scaleup",
                "violations": violations,
                "recall": recalls,
                "per_key": rows,
                "total_sf01": round(sum(times["sf0.1"].values()), 2),
                "total_sf1": round(sum(times["sf1"].values()), 2),
            },
            indent=2,
        )
    )
    if violations:
        print(f"SCALE GATE RED: {violations}", file=sys.stderr)
        return 1
    print("scale gate green", file=sys.stderr)
    return 0


# --- core-scaling tier (VERDICT r14 item 7) --------------------------------
# The driver's 8-vs-32-core comparison runs at sf0.1, where every headline
# key is sub-0.5s and the ratio grades the per-query scheduling/codegen
# floor, not operator parallelism. This tier re-runs the most expensive
# DATA-BOUND wide keys at sf1 under both core counts — each in its own
# subprocess, because local[N] is fixed at JVM start — so the artifact can
# say which operators actually parallelize. Keys: the top sf1 spenders from
# the r15 scale-gate run whose cost is the distributed data path (streaming
# drains excluded: their cost is the per-batch state-store commit floor).
# (r15 gate, sf1 best-of-1: xmatch_knn 30.5s, kcore 15.0s, hits 14.1s,
# bfs 14.0s, spatial_htm 8.5s — the next spender, stream_live_counters
# 7.0s, is the state-store commit floor, excluded by the rule above.)
_CORESCALE_KEYS = [
    "join_xmatch_knn",
    "graph_kcore",
    "graph_hits",
    "graph_bfs_distance",
    "spatial_htm",
]


def _corescale_child(keys: list[str]) -> None:
    """Run ``keys`` at the sf1 tier on the session SPARK_GRAFT_CPUS builds
    and print one JSON line {key: best_of_2_sec}."""
    import time as _t

    from fits2db_spark.registry import all_queries
    from fits2db_spark.session import free_memo_checkpoints, get_spark
    from fits2db_spark.tables import warm_cache

    spark = get_spark("corescale_child")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # size the cached-table layout to the core count under test: the
    # bench's fixed partitions=8 would cap scan parallelism at 8 in BOTH
    # legs and the ratio would grade nothing (measured: every key ~1.0
    # or below before this line changed)
    warm_cache(spark, OUT, partitions=spark.sparkContext.defaultParallelism)
    qs = all_queries()
    out: dict[str, float] = {}
    for name in keys:
        best = float("inf")
        for _ in range(2):  # best-of-2: one reading per key is steal-bait
            free_memo_checkpoints()
            t0 = _t.time()
            qs[name](spark, OUT).write.format("noop").mode("overwrite").save()
            best = min(best, _t.time() - t0)
        out[name] = round(best, 3)
        print(f"corescale cpus={os.environ.get('SPARK_GRAFT_CPUS')} "
              f"{name}: {out[name]}s", file=sys.stderr)
    print(json.dumps(out))


def corescale() -> None:
    """Measure the pinned keys at sf1 under local[32] and local[8] (fresh
    subprocess per core count) and report per-key 8/32 wall-clock ratios —
    a data-bound operator should read well above 1 (ideally toward 4x);
    ~1 means the key is floor-bound at this tier."""
    if not os.path.exists(os.path.join(OUT, "embeddings.parquet")):
        t0 = time.time()
        generate(10)
        print(f"generated {OUT} in {time.time()-t0:.1f}s", file=sys.stderr)
    results: dict[str, dict[str, float]] = {}
    for cpus in ("32", "8"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_SF_DIR=OUT)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--corescale-child",
             ",".join(_CORESCALE_KEYS)],
            cwd=REPO, env=env, capture_output=True, text=True,
        )
        sys.stderr.write(proc.stderr[-3000:])
        if proc.returncode != 0:
            raise RuntimeError(f"corescale child (cpus={cpus}) rc={proc.returncode}")
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        results[cpus] = json.loads(lines[-1])
    rows = []
    for name in _CORESCALE_KEYS:
        t32, t8 = results["32"][name], results["8"][name]
        rows.append({
            "key": name, "sf1_32core": t32, "sf1_8core": t8,
            "ratio_8_over_32": round(t8 / t32, 2) if t32 else None,
        })
    print(json.dumps({"tier": OUT, "corescale": rows}, indent=2))


def main() -> None:
    factor = 10
    if "--factor" in sys.argv:
        factor = int(sys.argv[sys.argv.index("--factor") + 1])
    if "--corescale-child" in sys.argv:
        keys = sys.argv[sys.argv.index("--corescale-child") + 1].split(",")
        _corescale_child(keys)
        return
    if "--corescale" in sys.argv:
        corescale()
        return
    if "--gate" in sys.argv:
        sys.exit(scale_gate())
    if "--wide" in sys.argv:
        if "--skip-gen" not in sys.argv and not os.path.exists(
            os.path.join(OUT, "embeddings.parquet")
        ):
            t0 = time.time()
            generate(factor)
            print(f"generated {OUT} in {time.time()-t0:.1f}s", file=sys.stderr)
        print(json.dumps({"tier": OUT, "wide": wide_scaleup()}, indent=2))
        return
    if "--skip-gen" not in sys.argv:
        t0 = time.time()
        generate(factor)
        print(f"generated {OUT} (factor {factor}) in {time.time()-t0:.1f}s", file=sys.stderr)
    report = {"tier": OUT, "factor": factor}
    report["bench"] = run_benches()
    s, d = report["bench"]["spark"], report["bench"]["duckdb"]
    shared = [q for q in s["queries"] if q in d["queries"]]
    report["shared_total_spark"] = round(sum(s["queries"][q] for q in shared), 3)
    report["shared_total_duckdb"] = round(sum(d["queries"][q] for q in shared), 3)
    report["ratio"] = round(
        report["shared_total_spark"] / report["shared_total_duckdb"], 3
    )
    report["candidates"] = candidate_growth()
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
