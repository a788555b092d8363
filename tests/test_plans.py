"""Physical-plan audits (SURVEY.md §4, §7 PR7): the optimizations we rely on
at scale must actually appear in the plan — pushdown, pruning, broadcast,
TakeOrdered, window group limits, and codegen on the bench path."""

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_to_parquet(spark):
    from fits2db_spark.operators.etl import filter_pred

    df = filter_pred(spark, SF_SMOKE)
    f = _formatted(df)
    assert "PushedFilters: [" in f
    # the BETWEEN bounds must reach the scan
    assert "GreaterThanOrEqual(l_quantity,10.0)" in f, f


def test_column_pruning(spark):
    from fits2db_spark.operators.aggregates import agg_groupby

    f = _formatted(agg_groupby(spark, SF_SMOKE))
    read = [ln for ln in f.splitlines() if "ReadSchema" in ln]
    assert read, f
    # Q1 needs exactly 7 columns; the 11-column table must not be fully read
    assert "l_partkey" not in read[0] and "l_suppkey" not in read[0], read[0]


def test_broadcast_join_chosen(spark):
    from fits2db_spark.operators.joins import join_inner_hash

    assert "BroadcastHashJoin" in _plan(join_inner_hash(spark, SF_SMOKE))


def test_sortmerge_join_chosen(spark):
    from fits2db_spark.operators.joins import join_sortmerge

    assert "SortMergeJoin" in _plan(join_sortmerge(spark, SF_SMOKE))


def test_topk_is_take_ordered(spark):
    from fits2db_spark.operators.sorts_sets import topk_global

    assert "TakeOrderedAndProject" in _plan(topk_global(spark, SF_SMOKE))


def test_window_topk_group_limit(spark):
    from fits2db_spark.operators.windows import win_topk_per_group

    assert "WindowGroupLimit" in _plan(win_topk_per_group(spark, SF_SMOKE))


def test_range_join_broadcasts_small_side(spark):
    from fits2db_spark.operators.joins import join_theta_range

    assert "BroadcastNestedLoopJoin" in _plan(join_theta_range(spark, SF_SMOKE))


def test_bench_path_stays_jvm_side(spark):
    """No Python evaluation nodes in the relational headline queries."""
    from fits2db_spark.registry import all_queries

    qs = all_queries()
    for name in [
        "agg_groupby",
        "join_star_q5",
        "join_sortmerge",
        "win_topk_per_group",
        "dedup_exact_text",
        "text_tokenize_counts",
        "dedup_near_minhash",
        "sim_topk_bruteforce",
        "stream_session",
        "join_asof",
    ]:
        plan = _plan(qs[name](spark, SF_SMOKE))
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert bad not in plan, f"{name} fell out of codegen: {bad}"


def test_whole_stage_codegen_present(spark):
    from fits2db_spark.operators.aggregates import agg_groupby

    df = agg_groupby(spark, SF_SMOKE)
    df.collect()  # finalize the adaptive plan first: AQE hides codegen spans
    final = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators render as "*(n) Op" in the executed plan
    assert "*(1)" in final, final[:2000]


def test_tfidf_construction_launches_no_job(spark):
    """Registered queries must return an UNEXECUTED DataFrame: text_tfidf
    once ran a driver-side distinct().count() at plan-build time (a full
    extra corpus pass at scale). N must come from a broadcast one-row
    aggregate inside the same lazy plan."""
    from pyspark.sql import DataFrame

    from fits2db_spark.operators.llm_text import text_tfidf

    actions = ("count", "collect", "toPandas", "take", "head", "first")
    saved = {a: getattr(DataFrame, a) for a in actions}

    def _boom(name):
        def inner(self, *a, **k):
            raise AssertionError(f"eager DataFrame.{name}() during query construction")

        return inner

    try:
        for a in actions:
            setattr(DataFrame, a, _boom(a))
        df = text_tfidf(spark, SF_SMOKE)
    finally:
        for a, fn in saved.items():
            setattr(DataFrame, a, fn)
    assert df.columns == ["doc_id", "term", "tf", "tfidf"]


def test_pipeline_ops_stay_jvm_side(spark):
    """Round-2 pipeline operators are pure JVM expression plans — no Python
    eval nodes anywhere (the sketch, packing, split, contamination and
    quantization paths must all survive whole-stage codegen)."""
    from fits2db_spark.registry import all_queries

    qs = all_queries()
    for name in [
        "split_train_test",
        "seq_pack_bins",
        "text_vocab_topk",
        "contamination_ngram",
        "anomaly_zscore",
        "dq_profile",
        "agg_mode_median",
        "corr_covar",
        "vec_quantize_int8",
        "cms_heavy_hitters",
    ]:
        plan = _plan(qs[name](spark, SF_SMOKE))
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert bad not in plan, f"{name} fell out of codegen: {bad}"


def test_vocab_topk_is_take_ordered(spark):
    """The top-50 must be TakeOrderedAndProject (no global sort of the whole
    vocabulary)."""
    from fits2db_spark.operators.pipeline import text_vocab_topk

    assert "TakeOrderedAndProject" in _plan(text_vocab_topk(spark, SF_SMOKE))


def test_anomaly_zscore_broadcasts_stats(spark):
    """The per-type stats side must broadcast — the fact scan stays parallel."""
    from fits2db_spark.operators.pipeline import anomaly_zscore

    assert "BroadcastHashJoin" in _plan(anomaly_zscore(spark, SF_SMOKE))


def test_cms_sketch_broadcasts(spark):
    """The d*w sketch joins the probe side as a broadcast."""
    from fits2db_spark.registry import all_queries

    assert "BroadcastHashJoin" in _plan(
        all_queries()["cms_heavy_hitters"](spark, SF_SMOKE)
    )


def test_partition_pruning_fires(spark):
    # the staged hive layout + partition filter must prune to 3 directories:
    # the scan's partition filters mention event_date and the file listing
    # excludes out-of-range partitions
    from fits2db_spark.operators.scans import scan_partition_pruning

    df = scan_partition_pruning(spark, SF_SMOKE)
    f = _formatted(df)
    pf = [ln for ln in f.splitlines() if "PartitionFilters" in ln]
    assert pf, f
    # both range bounds must appear as PARTITION filters (directory-level
    # pruning), not data filters; inputFiles() can't show this — it lists
    # the pre-pruning relation
    assert "event_date" in pf[0], pf[0]
    assert ">=" in pf[0] and "<=" in pf[0], pf[0]
    dataf = [ln for ln in f.splitlines() if "PushedFilters" in ln]
    if dataf:
        assert "event_date" not in dataf[0], dataf[0]


def test_dynamic_partition_pruning_fires(spark):
    # join_dpp filters the partition column only THROUGH the dimension
    # join — the scan must carry a runtime dynamicpruning subquery, not a
    # static partition filter and not an unpruned full scan
    from fits2db_spark.operators.scans import join_dpp

    df = join_dpp(spark, SF_SMOKE)
    f = _formatted(df)
    assert "dynamicpruning" in f.lower(), f
    pf = [ln for ln in f.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_date" in pf[0], f


def test_ohlc_is_partial_agg_not_window(spark):
    # OHLC bars use min_by/max_by over a struct key: plans as
    # SortAggregate (struct ordering keys aren't hash-aggregable) but the
    # scale properties that matter must hold — map-side partial
    # aggregation (the shuffle carries one candidate per group) and NO
    # WindowExec over the raw tick stream
    from fits2db_spark.operators.stats import events_ohlc

    p = _plan(events_ohlc(spark, SF_SMOKE))
    assert "Window" not in p, p
    assert "partial_min_by" in p and "partial_max_by" in p, p


def test_linreg_is_partial_agg(spark):
    # regr_* must partial-aggregate map-side before one shuffle
    from fits2db_spark.operators.stats import agg_linreg

    p = _plan(agg_linreg(spark, SF_SMOKE))
    assert p.count("HashAggregate") >= 2 or p.count("ObjectHashAggregate") >= 2, p


def test_interval_overlap_is_equi_join(spark):
    # the user_id equi-key must make this a hash/sort-merge join with the
    # range predicates as join conditions — never a cartesian
    from fits2db_spark.operators.joins import join_interval_overlap

    p = _plan(join_interval_overlap(spark, SF_SMOKE))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p, p


# ---------------------------------------------------------------------------
# Sanctioned-global-window gate (r5 verdict item 3): the set of registered
# queries whose physical plan contains a Window/WindowGroupLimit node with an
# EMPTY partition spec must equal the documented allowlist (docs/SCALE.md
# "Global-window allowlist"). Each allowlisted entry is justified there:
# either the window input is pre-aggregated to O(small) rows, or a pushed
# TakeOrdered/limit/WindowGroupLimit bounds what reaches the single
# partition. A new query that sneaks in an unbounded global sort fails here.
# ---------------------------------------------------------------------------

GLOBAL_WINDOW_ALLOWLIST = {
    # ordered row ids are the operator's contract; docstring names the
    # zipWithIndex/monotonic escape hatches for unordered-at-scale use
    "add_rowid",
    # binned ECDF: window input is price-range/5000 buckets, not rows
    "agg_ks_test",
    # top-20 path ranking: TakeOrdered pushed below the window (audited r5)
    "events_paths",
    # rk <= 50 filter -> WindowGroupLimit bounds the single partition
    "graph_node_similarity",
    # phase-fold ranking over O(periods x bins) pre-aggregated rows
    "lightcurve_pdm",
    # Pareto cumsum over the part dimension (O(parts), post-aggregation)
    "orders_abc",
    # KM curve: two windows over O(distinct event days), post-aggregation
    "orders_survival_km",
    # skyline rank over the O(groups) candidate frontier
    "skyline_pareto",
    # top-25 rank over the distinct-phrase aggregate (r6; WindowGroupLimit)
    "text_keyphrase_rake",
    # A-ES top-100: TakeOrderedAndProject pushed below the window (r8) —
    # the window ranks only the k merged survivors
    "sample_weighted",
    # prefix-sum bucketing over the O(months) manifest-stats aggregate (r8)
    "warehouse_compaction_plan",
    # vocabulary-growth running sums over the O(doc-buckets) checkpoint
    # curve, post-aggregation (r8)
    "text_heaps_law",
    # top-20 community rank over the O(communities) label aggregate;
    # rk <= 20 filter becomes a WindowGroupLimit (r8)
    "graph_label_propagation",
    # cumulative gains over the 10-row score-bin histogram (r8)
    "ml_lift_deciles",
    # BH step-up rank over the O(hypotheses)=35 pre-aggregated tests (r8)
    "agg_fdr_bh",
    # U-statistic cumulative window over the O(price-buckets) histogram —
    # the agg_ks_test shape (r8)
    "agg_mann_whitney",
    # midrank cumulative window over the same O(price-buckets) histogram
    # as agg_mann_whitney (r10)
    "agg_kruskal_wallis",
    "agg_dunn_posthoc",
    # ml_conformal_interval left this list in r14: its calibration-ECDF
    # window now runs during construction, behind the eager checkpoint of
    # the bucket histogram (commit 225c79c), so the returned plan holds no
    # global window node — the window itself is still the O(residual-
    # buckets) post-aggregation shape documented in docs/SCALE.md
    "ml_logrank_test",
    # TPR/FPR cumulative windows over the same O(price-buckets) histogram
    # (r10)
    "ml_youden_threshold",
    # decile NTILE over the O(customers) revenue table + 10-row cumulative
    # curve (r10; the at-scale swap is percentile-cutoff broadcasts, the
    # orders_rfm trade)
    "agg_lorenz_curve",
    # top-k rank over the O(source-pairs)~190 overlap table (r10)
    "text_vocab_overlap_jaccard",
    # SPRT likelihood walk over the O(periods)~80 pre-aggregated counts (r8)
    "ml_sprt_monitor",
    # best-split search over the ~20-bucket price histogram — cumulative +
    # argmin-rank windows over O(buckets) pre-aggregated rows (r9)
    "ml_decision_stump",
    # ABC Pareto cumsum over the O(parts) revenue dimension — the
    # orders_abc shape reused for the ABC-XYZ matrix (r9)
    "orders_abc_xyz",
    # squared-ECDF-gap cumulative window over the same O(price-buckets)
    # histogram as agg_ks_test (r11)
    "agg_cvm_test",
    # median-bucket search: cumulative window over the O(price-buckets)
    # histogram, then broadcast 1-row split (r11)
    "agg_mood_median_test",
    # U-statistic cumulative window over the same O(price-buckets)
    # histogram as agg_mann_whitney (r11)
    "agg_rank_biserial",
}


def _walk_plan(node):
    yield node
    cn = node.getClass().getSimpleName()
    if cn == "AdaptiveSparkPlanExec":
        yield from _walk_plan(node.initialPlan())
        return
    if cn == "InMemoryTableScanExec":
        try:
            yield from _walk_plan(node.relation().cachedPlan())
        except Exception:
            pass
    cs = node.children()
    for i in range(cs.length()):
        yield from _walk_plan(cs.apply(i))


def test_global_windows_are_exactly_the_allowlist(spark):
    import __spark_entry__ as e

    hits = set()
    for name, fn in e.queries().items():
        df = fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan()
        for node in _walk_plan(plan):
            if node.getClass().getSimpleName() in (
                "WindowExec",
                "WindowGroupLimitExec",
                "WindowInPandasExec",
            ) and node.partitionSpec().isEmpty():
                hits.add(name)
                break
    unsanctioned = hits - GLOBAL_WINDOW_ALLOWLIST
    stale = GLOBAL_WINDOW_ALLOWLIST - hits
    assert not unsanctioned, f"unsanctioned global-window queries: {sorted(unsanctioned)}"
    assert not stale, f"allowlist entries with no global window anymore: {sorted(stale)}"


def test_tdisp_render_is_shuffle_free_map_stage(spark):
    """fits_tdisp_render's claim: a TDISP-faithful export is ONE map stage
    — format_string projections over the decode, no Exchange anywhere."""
    from fits2db_spark.registry import all_queries

    df = all_queries()["fits_tdisp_render"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "format_string" in plan.lower() or "staticinvoke" in plan.lower(), plan


def test_parallax_is_single_arrow_pass(spark):
    """astro_parallax_distance's 10^9-star shape: exactly ONE Arrow map
    stage carries all Newton steps (no per-step materialization), and no
    shuffle exists in the whole plan."""
    from fits2db_spark.registry import all_queries

    df = all_queries()["astro_parallax_distance"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan


def test_xmatch_candidates_born_wide_no_candidate_respread(spark):
    """The r14 ladder contract: zone-join inputs are explicitly
    repartitioned machine-wide on the join key (REPARTITION_BY_NUM on
    (zone, rbin)), the rank filter gets a PARTIAL WindowGroupLimit below
    the window's own exchange, and NO explicit re-spread of the full
    candidate set on b_id exists (the r13 repartition that shuffled every
    verified pair)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fits2db_spark.operators.joins import _zone_ra_candidates
    from fits2db_spark.tables import load

    c = load(spark, SF_SMOKE, "customer").select(F.col("c_custkey").alias("id"))
    base = c.select(
        "id",
        ((F.col("id") * 137.5) % 360).alias("ra"),
        (F.col("id") % 89 - 44).cast("double").alias("dec"),
    )
    b0 = base.select(
        F.col("id").alias("b_id"),
        F.col("ra").alias("b_ra"),
        F.col("dec").alias("b_dec"),
    )
    w = Window.partitionBy("b_id").orderBy("sep_m4", "a_id")
    tk = (
        _zone_ra_candidates(base, b0, 0.125)
        .select("b_id", "a_id", F.lit(1).alias("sep_m4"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )
    plan = _plan(tk)
    assert "row_number(), 3, Partial" in plan, plan
    # both join inputs explicitly widened on the join key
    zone_repart = [
        ln
        for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln and "zone" in ln and "rbin" in ln
    ]
    assert len(zone_repart) >= 1, plan
    # and no explicit full-candidate re-spread keyed on b_id
    bad = [
        ln
        for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln and "b_id" in ln
    ]
    assert not bad, bad


def test_co_supply_agg_is_one_wide_pass(spark):
    """_co_supply_pair_counts' contract: the (u, v) aggregate sits directly
    on the EXPLICIT machine-wide exchange (REPARTITION_BY_NUM on the group
    key) — Spark inserts no ENSURE_REQUIREMENTS exchange for the agg, so
    partial and final run back-to-back in one wide stage over an
    already-clustered stream instead of hashing the full pair stream twice
    across a narrow shuffle."""
    from pyspark.sql import functions as F

    from fits2db_spark.operators.advanced import _co_supply_pair_counts
    from fits2db_spark.session import free_memo_checkpoints
    from fits2db_spark.tables import load

    # drop the session-shared graph memos first: if _co_supply_counts is
    # persisted (an earlier test ran a graph key), the cache manager
    # substitutes an InMemoryTableScan for this whole subtree and the
    # explain text prints the cached build plan's Final AND Initial
    # sections — doubling the REPARTITION_BY_NUM line this test counts.
    free_memo_checkpoints()

    ps = (
        load(spark, SF_SMOKE, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    plan = _plan(_co_supply_pair_counts(spark, ps))
    uv_repart = [
        ln
        for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln and "u#" in ln and "v#" in ln
    ]
    assert len(uv_repart) == 1, plan
    uv_ensure = [
        ln
        for ln in plan.splitlines()
        if "ENSURE_REQUIREMENTS" in ln and "u#" in ln and "v#" in ln
    ]
    assert not uv_ensure, uv_ensure
