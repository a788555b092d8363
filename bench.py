"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology: one shared SparkSession (JVM startup excluded — it would
dominate at these scale factors, SURVEY.md §6); each query is fully executed
via the noop sink (whole plan runs, no driver-side row transfer); headline
set covers scan+agg, fact-fact join, star join, window, dedup exact + LSH
near-dup, tokenize, vector top-k, sessionization.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

HEADLINE = [
    "agg_groupby",          # TPC-H Q1 shape: scan + 2-key agg
    "join_sortmerge",       # fact-fact SMJ + agg
    "join_star_q5",         # star join down the dimension chain
    "win_topk_per_group",   # window + group-limit
    # round 2: quantile headline switched from agg_percentile (exact; now a
    # spill-safe histogram+window plan, still oracle-checked) to the sketch
    # path — approx_percentile IS the 100 TB quantile design, and the exact
    # plan's per-group window sort is not the shape we'd ship at scale.
    "agg_approx_percentile",  # KLL/GK sketch quantiles
    "dedup_exact_text",     # normalize + hash-group dedup
    "text_tokenize_counts", # explode + count + top-k
    "dedup_near_minhash",   # minhash + LSH + verify
    "sim_topk_bruteforce",  # vector knn
    "stream_session",       # session windows
    "join_asof",            # union+window as-of
    # round 7: four heavyweight composites so the bench tracks the widened
    # surface, not just the frozen r1 set (r6 verdict #7) — each has a
    # DuckDB pairing via its oracle in tools/bench_duckdb.py
    "er_golden_record",     # blocked fuzzy ER + components + survivorship
    "text_bm25",            # inverted-index BM25 top-k
    "dedup_semantic_clusters",  # embedding-cosine pair graph + components
    "sql_tpch_q9",          # raw-SQL 5-way star profit rollup
]

# Second tier (round 9, r8 verdict item 3): the 20 most expensive
# NON-headline keys by a one-off full-surface timing sweep at sf0.01, timed
# best-of-1 with no warmup lap — a coarse per-round regression tripwire
# over the wide surface (the headline tier stays the precise
# best-of-3 signal). The list is PINNED so wide_total is comparable
# across rounds; re-derive it with a fresh sweep only when the surface
# changes materially, and note the re-pin in BASELINE.md.
WIDE = [
    "graph_hits",               # unrolled mutual-reinforcement rounds
    "graph_kcore",              # iterative peel
    "sim_mmr_rerank",           # greedy diversity re-rank, unrolled
    "stream_live_interval_join",  # real stream-stream join drain
    "graph_bfs_distance",       # multi-source BFS rounds
    "spatial_htm",              # recursive triangle subdivision
    "sim_ann_ivf",              # IVF coarse quantizer + probe join
    "graph_label_propagation",  # iterative LPA
    "graph_pagerank",           # iterative PR
    "stream_live_dedup",        # stateful streaming dedup drain
    "vec_kmeans",               # Lloyd rounds
    "vec_power_iteration",      # covariance power iteration
    "sim_ivf_balance",          # IVF balance metrology
    "bpe_train_merges",         # iterative BPE merge learning
    "ml_logistic_gd",           # unrolled gradient-descent epochs
    "stream_live_counters",     # stateful streaming counters drain
    "vec_pca_evr",              # gram collect + LAPACK eig
    "sim_ann_lsh",              # hyperplane LSH bucket join
    "join_xmatch_knn",          # zone-join kNN crossmatch
    "events_granger",           # per-pair OLS F-tests
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from fits2db_spark.registry import all_queries
    from fits2db_spark.session import get_spark

    from fits2db_spark.tables import warm_cache

    # Partition count sized to DATA VOLUME, not core count: at sf0.1 the
    # largest table is ~600k rows, so 8 partitions ≈ 75k rows each — beyond
    # that, per-task launch overhead dominates the ~10ms of work per task.
    # Round-5 sweep on local[32] (warm x shuffle partitions, best-of-3
    # totals): 32x16 = 2.7s, 16x8 = 1.8s, 8x8 = 1.4s, 4x4 = 1.6s (too
    # little parallelism for the minhash join). The same rule at 100 TB
    # gives ~128 MB-sized partitions — thousands of them — and AQE coalesces
    # the small post-shuffle stages; partition width scales with data, these
    # constants do not.
    spark = get_spark("fits2db_spark_bench", shuffle_partitions=8)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM/codegen warmup
    # cache fixtures repartitioned: the single-row-group fixture files are
    # unsplittable, so this is the only route to multi-core scans (§6 notes)
    warm_cache(spark, sf_dir, partitions=8)

    qs = all_queries()
    # untimed warmup lap: the first execution of each query pays one-off
    # whole-stage-codegen JIT (~0.5-2s across the set) — excluded, like the
    # JVM startup, so the timed laps measure steady-state execution
    for name in HEADLINE:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        # three timed executions, report the fastest: run-to-run variance on
        # a shared box is ±30% — best-of-3 stabilizes the recorded number
        best = float("inf")
        for _ in range(3):
            df = qs[name](spark, sf_dir)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)

    # wide tier: best-of-1, no warmup — regression tripwire, not a precise
    # number (±30% run-to-run is expected; compare round-over-round trends).
    # Unlike the headline tier, construction is INSIDE the timed window:
    # the iterative operators here (HITS, k-core, MMR, Lloyd, live-stream
    # drains) materialize per-round checkpoints / drain streaming queries
    # while the DataFrame is being built, so excluding construction would
    # time only the final cheap projection.
    # evict the per-session memo checkpoints between tiers so a headline
    # key's retained blocks can't tax the wide tier (VERDICT r13 item 6;
    # measured ~1.8x bleed onto sim_ivf_balance in a shared session).
    # Since r15 this evicts the FULL aux-cache registry (graph/vector/text
    # memos too, VERDICT r14 item 2), so the wide tier starts memo-cold.
    from fits2db_spark.session import free_memo_checkpoints

    free_memo_checkpoints()
    wide: dict[str, float] = {}
    # r15 (VERDICT r14 item 1 fix / "What's wrong" #1): the session-shared
    # cross-key memos used to be built inside whichever consumer key the
    # tier ran FIRST, so per-key wide numbers were order-dependent (e.g.
    # graph_kcore's number excluded the ~2.7s pair aggregate its standalone
    # invocation pays). Build them up front as a LABELED pseudo-entry —
    # still inside the tier's timed window (wide_total unchanged in
    # meaning: each build paid exactly once), but per-key numbers are now
    # build-free and comparable across rounds in both directions.
    t0 = time.time()
    from fits2db_spark.operators.advanced import (
        _co_supply_counts,
        _lpa_sym_edges,
        _ps_pairs,
    )
    from fits2db_spark.operators.llm_vectors import cov_gram_parts

    spark.sparkContext.setJobDescription("wide: shared memo builds")
    for build in (_ps_pairs, _lpa_sym_edges, _co_supply_counts, cov_gram_parts):
        build(spark, sf_dir).count()  # count() materializes the persist
    spark.sparkContext.setJobDescription(None)
    wide["_memo_builds"] = round(time.time() - t0, 3)
    for name in WIDE:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wide[name] = round(time.time() - t0, 3)
    free_memo_checkpoints()

    # paired DuckDB leg (VERDICT r9 item 3): same headline set, same parquet,
    # sequential on the same box, so the artifact carries the 2x-gate ratio
    # itself instead of requiring a judge-side re-run.  Spark total for the
    # ratio covers only the PAIRED keys (rows-only keys have no oracle).
    duck: dict[str, float] = {}
    duck_err: str | None = None
    try:
        from tools.bench_duckdb import time_oracles

        duck, _skipped = time_oracles(sf_dir, HEADLINE)
    except Exception as exc:  # pragma: no cover — bench must still emit
        duck_err = f"{type(exc).__name__}: {exc}"
    spark_paired = round(sum(t for n, t in timings.items() if n in duck), 3)
    duck_total = round(sum(duck.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "wide": wide,
        "wide_total": round(sum(wide.values()), 3),
        "duckdb_queries": duck,
        "duckdb_total": duck_total,
        "spark_paired_total": spark_paired,
        "ratio_spark_over_duckdb": round(spark_paired / duck_total, 3)
        if duck_total
        else None,
        "sf": sf,
    }
    if duck_err:
        out["duckdb_error"] = duck_err
    print(json.dumps(out))


if __name__ == "__main__":
    main()
