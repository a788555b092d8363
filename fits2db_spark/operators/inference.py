"""Statistical inference & decision-analysis operators (round 5, batch 2).

Extends the ``stats`` module (grouped OLS / entropy / MAD / OHLC) with the
hypothesis-testing and distribution-comparison queries an analyst runs to
*decide* something about the data: a two-sample Kolmogorov-Smirnov test
(did this slice drift?), a chi-square independence test (are these two
categoricals related?), Welch's unequal-variance t-test (did the mean
move?), an equi-depth decile histogram (the optimizer-statistics build),
series autocorrelation (is there day-over-day structure?), a Zipf-law fit
over the corpus vocabulary (is this text natural language?), and the
Pareto skyline (which points are undominated?).

Scale design shared by all seven: every operator reduces the raw table with
one partial-aggregating groupBy whose key cardinality is tiny (price
buckets, category cells, days, vocabulary, sizes) before any window or
join runs. The windows therefore sort hundreds of rows, not the input —
the only stage that sees data volume is the first map-side-combining
aggregate, which scales linearly. No operator here ever applies a global
window directly to raw rows.

Cross-engine notes: ``corr`` / ``regr_*`` are sample-statistics in both
Spark and DuckDB; integer ``%`` agrees for the non-negative keys used;
``FLOOR`` is applied before any BIGINT cast in the oracles because DuckDB
``CAST(double AS BIGINT)`` rounds where Spark truncates; day arithmetic
uses integer day indexes (``datediff`` from a fixed epoch) instead of
DATE + INTERVAL so both engines join on exact integers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import release
from ..tables import daily_value_series, load


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test (binned ECDF)
# ---------------------------------------------------------------------------
@register(
    "agg_ks_test",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS bucket,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS n2
      FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1
    ),
    t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM b),
    c AS (
      SELECT SUM(n1) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c1,
             SUM(n2) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c2
      FROM b
    )
    SELECT CAST(t.t1 AS BIGINT) AS n_open,
           CAST(t.t2 AS BIGINT) AS n_filled,
           ROUND(MAX(ABS(c.c1 / t.t1 - c.c2 / t.t2)), 6) AS ks_d,
           ROUND(1.358 * SQRT((t.t1 + t.t2) / (t.t1 * t.t2)), 6) AS ks_crit_05,
           CAST(MAX(ABS(c.c1 / t.t1 - c.c2 / t.t2))
                > 1.358 * SQRT((t.t1 + t.t2) / (t.t1 * t.t2)) AS INTEGER) AS reject_05
    FROM c CROSS JOIN t
    GROUP BY t.t1, t.t2
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test on the order-price distribution of open ('O') vs
    filled ('F') orders: D = max |ECDF1 - ECDF2|, compared against the
    large-sample 5% critical value 1.358*sqrt((n1+n2)/(n1*n2)).

    The ECDFs are computed over fixed 5000-wide price buckets (a binned
    KS), which is what makes the operator scale-safe: the raw table is
    reduced by one map-side-combining groupBy(bucket) to O(price range /
    5000) rows, and only that tiny frame passes through the cumulative-sum
    window. An exact per-row KS would need a global sort of the input;
    the binned statistic converges to it from below as bins shrink and is
    the standard drift-monitor formulation.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus").isin("O", "F"))
    b = o.groupBy(
        F.floor(F.col("o_totalprice") / 5000).alias("bucket")
    ).agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("double")
        .alias("n2"),
    )
    t = b.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = b.select(F.sum("n1").over(w).alias("c1"), F.sum("n2").over(w).alias("c2"))
    gap = F.abs(F.col("c1") / F.col("t1") - F.col("c2") / F.col("t2"))
    crit = 1.358 * F.sqrt((F.col("t1") + F.col("t2")) / (F.col("t1") * F.col("t2")))
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("t1", "t2")
        .agg(F.max(gap).alias("d"), F.first(crit).alias("crit"))
        .select(
            F.col("t1").cast("long").alias("n_open"),
            F.col("t2").cast("long").alias("n_filled"),
            F.round("d", 6).alias("ks_d"),
            F.round("crit", 6).alias("ks_crit_05"),
            (F.col("d") > F.col("crit")).cast("int").alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence
# ---------------------------------------------------------------------------
@register(
    "agg_chisq",
    oracle="""
    WITH o AS (
      SELECT c_mktsegment AS seg, c_nationkey % 5 AS band,
             CAST(COUNT(*) AS DOUBLE) AS obs
      FROM customer GROUP BY 1, 2
    ),
    r AS (SELECT seg, SUM(obs) AS row_tot FROM o GROUP BY seg),
    c AS (SELECT band, SUM(obs) AS col_tot FROM o GROUP BY band),
    n AS (SELECT SUM(obs) AS tot FROM o)
    SELECT CAST(n.tot AS BIGINT) AS n_customers,
           CAST((COUNT(DISTINCT o.seg) - 1) * (COUNT(DISTINCT o.band) - 1)
                AS BIGINT) AS dof,
           ROUND(SUM(POW(o.obs - r.row_tot * c.col_tot / n.tot, 2)
                     / (r.row_tot * c.col_tot / n.tot)), 6) AS chi2
    FROM o JOIN r USING (seg) JOIN c USING (band) CROSS JOIN n
    GROUP BY n.tot
    """,
)
def agg_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between market segment and a
    nation band (nationkey mod 5): chi2 = sum (obs - exp)^2 / exp over the
    contingency cells, with exp = row_total * col_total / N.

    Plan: one groupBy(seg, band) over the raw table (the only stage that
    sees data volume, partial-aggregated map-side), then the marginals are
    re-aggregated from the cell counts — never from the raw table again —
    and joined back broadcast (the contingency table is O(segments x
    bands) rows). One data-volume shuffle total; everything after runs on
    dozens of rows.
    """
    cust = load(spark, sf_dir, "customer")
    o = cust.groupBy(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_nationkey") % 5).alias("band"),
    ).agg(F.count(F.lit(1)).cast("double").alias("obs"))
    r = o.groupBy("seg").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("band").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("tot"))
    exp = F.col("row_tot") * F.col("col_tot") / F.col("tot")
    return (
        o.join(F.broadcast(r), "seg")
        .join(F.broadcast(c), "band")
        .crossJoin(F.broadcast(n))
        .groupBy("tot")
        .agg(
            ((F.countDistinct("seg") - 1) * (F.countDistinct("band") - 1))
            .cast("long")
            .alias("dof"),
            F.round(F.sum(F.pow(F.col("obs") - exp, 2) / exp), 6).alias("chi2"),
        )
        .select(
            F.col("tot").cast("long").alias("n_customers"), "dof", "chi2"
        )
    )


# ---------------------------------------------------------------------------
# Series autocorrelation (ACF at fixed lags)
# ---------------------------------------------------------------------------
@register(
    "events_acf",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             SUM(value) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT s1.event_type, lags.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(corr(s1.v, s2.v), 6) AS acf
    FROM daily s1
    CROSS JOIN (VALUES (1), (2), (3), (7)) AS lags(lag)
    JOIN daily s2 ON s2.event_type = s1.event_type AND s2.d = s1.d + lags.lag
    GROUP BY s1.event_type, lags.lag
    """,
)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily per-type revenue series at lags 1, 2,
    3 and 7 (the day-over-day / week-over-week structure check): acf(L) =
    corr(v_t, v_{t+L}) over aligned day pairs.

    The raw event stream collapses to one row per (type, day) in a single
    map-side-combining aggregate — the only data-volume stage. The lag
    alignment is then a self-join of that tiny series on an *integer* day
    index (datediff from a fixed epoch), sidestepping DATE+INTERVAL type
    coercion differences between engines; ``corr`` is the sample Pearson
    coefficient in both. Series length is O(days), so the join and the
    final groupBy are negligible at any input scale.
    """
    daily = daily_value_series(spark, sf_dir, agg="sum")
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(7))).alias("lag")
    )
    s1 = daily.alias("s1").crossJoin(F.broadcast(lags))
    s2 = daily.alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s2.event_type") == F.col("s1.event_type"))
            & (F.col("s2.d") == F.col("s1.d") + F.col("lag")),
        )
        .groupBy(F.col("s1.event_type").alias("event_type"), "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.corr("s1.v", "s2.v"), 6).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf-law fit over the corpus vocabulary
# ---------------------------------------------------------------------------
@register(
    "text_zipf",
    oracle="""
    WITH v AS (
      SELECT lang, term, CAST(COUNT(*) AS DOUBLE) AS n
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY lang, term
    ),
    r AS (
      SELECT lang, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rk
      FROM v
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(ln(n), ln(rk)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(n), ln(rk)), 6) AS zipf_intercept,
           ROUND(regr_r2(ln(n), ln(rk)), 6) AS fit_r2
    FROM r WHERE rk <= 200
    GROUP BY lang
    """,
)
def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: OLS of ln(frequency) on ln(rank) over
    each language's top-200 vocabulary. Natural text fits a slope near -1
    with high r2; a far-off slope flags templated or machine-generated corpora —
    a standard corpus-quality screen before LLM training.

    Plan: explode + groupBy(lang, term) is the only stage proportional to
    corpus size (vocabulary shuffles, not tokens, thanks to map-side
    combine). The rank window is per-lang over vocabulary rows and the
    rk <= 200 filter plans as WindowGroupLimit, so each language keeps
    only 200 rows before the closed-form ``regr_*`` fold. Ties rank
    deterministically (freq desc, term asc) in both engines.
    """
    d = load(spark, sf_dir, "documents")
    v = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    r = v.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 200)
    ln_n, ln_rk = F.log("n"), F.log("rk")
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.regr_slope(ln_n, ln_rk), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_rk), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_n, ln_rk), 6).alias("fit_r2"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test
# ---------------------------------------------------------------------------
@register(
    "agg_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT o_orderstatus AS grp,
             CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(o_totalprice) AS m,
             var_samp(o_totalprice) AS v
      FROM orders WHERE o_orderstatus IN ('O', 'F')
      GROUP BY 1
    )
    SELECT CAST(a.n AS BIGINT) AS n_open,
           CAST(b.n AS BIGINT) AS n_filled,
           ROUND(a.m - b.m, 6) AS mean_diff,
           ROUND((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n), 6) AS t_stat,
           ROUND(POW(a.v / a.n + b.v / b.n, 2)
                 / (POW(a.v / a.n, 2) / (a.n - 1)
                    + POW(b.v / b.n, 2) / (b.n - 1)), 2) AS welch_dof
    FROM g a JOIN g b ON a.grp = 'O' AND b.grp = 'F'
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on mean order price, open ('O') vs
    filled ('F') orders: t = (m1-m2)/sqrt(v1/n1+v2/n2) with the
    Welch-Satterthwaite degrees of freedom. Complements ``agg_ks_test``:
    KS detects any distributional drift, Welch answers the narrower
    "did the mean move" with a statistic robust to unequal variances.

    Plan: ONE partial-aggregating groupBy produces a 3-number summary
    (n, mean, sample variance — all algebraic, combined map-side) per
    group; the test statistic is computed on a 2-row frame by a self-join
    of the summaries. Nothing after the first aggregate sees data volume.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus").isin("O", "F"))
    g = o.groupBy(F.col("o_orderstatus").alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("v"),
    )
    a = g.filter(F.col("grp") == "O").alias("a")
    b = g.filter(F.col("grp") == "F").alias("b")
    se2 = F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")
    dof = F.pow(se2, 2) / (
        F.pow(F.col("a.v") / F.col("a.n"), 2) / (F.col("a.n") - 1)
        + F.pow(F.col("b.v") / F.col("b.n"), 2) / (F.col("b.n") - 1)
    )
    return a.crossJoin(b).select(
        F.col("a.n").cast("long").alias("n_open"),
        F.col("b.n").cast("long").alias("n_filled"),
        F.round(F.col("a.m") - F.col("b.m"), 6).alias("mean_diff"),
        F.round((F.col("a.m") - F.col("b.m")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(dof, 2).alias("welch_dof"),
    )


# ---------------------------------------------------------------------------
# Equi-depth decile histogram
# ---------------------------------------------------------------------------
@register(
    "agg_decile_stats",
    oracle="""
    WITH b AS (
      SELECT list_transform(quantile_cont(l_extendedprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               x -> ROUND(x, 6)) AS bs
      FROM lineitem
    )
    SELECT len(list_filter(b.bs, e -> l.l_extendedprice >= e)) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(l.l_extendedprice), 4) AS avg_price,
           ROUND(MIN(l.l_extendedprice), 2) AS min_price,
           ROUND(MAX(l.l_extendedprice), 2) AS max_price
    FROM lineitem l CROSS JOIN b
    GROUP BY 1
    """,
)
def agg_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: exact decile boundaries of the extended price,
    then per-decile count/avg/min/max — the optimizer-statistics build
    (histogram construction) exposed as a query. Counts near n/10 per bin
    are the equi-depth property; min/max per bin recover the boundaries.

    Plan: pass 1 computes the 9 boundaries with the exact interpolating
    percentile (one aggregate; both engines share quantile_cont
    interpolation semantics, boundaries rounded to 6dp before binning so
    the bin edges are bit-identical across engines); pass 2 broadcasts
    the 1-row boundary array back and bins every row with a JVM-side
    array fold — a narrow map feeding one partial-agg groupBy on a
    10-value key. At 100 TB swap pass 1 for the mergeable
    approx_percentile sketch (the decile semantics tolerate sketch
    error); pass 2 is unchanged.
    """
    li = load(spark, sf_dir, "lineitem")
    qs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    b = li.agg(
        F.transform(
            F.percentile("l_extendedprice", qs), lambda x: F.round(x, 6)
        ).alias("bs")
    )
    binned = li.crossJoin(F.broadcast(b)).select(
        F.col("l_extendedprice").alias("price"),
        F.size(
            F.filter(F.col("bs"), lambda e: F.col("l_extendedprice") >= e)
        ).alias("decile"),
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("price"), 4).alias("avg_price"),
        F.round(F.min("price"), 2).alias("min_price"),
        F.round(F.max("price"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Pareto skyline (undominated points)
# ---------------------------------------------------------------------------
@register(
    "skyline_pareto",
    oracle="""
    WITH best AS (
      SELECT p_size, MAX(p_retailprice) AS best_price,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_size
    ),
    sk AS (
      SELECT p_size, best_price, n_parts,
             MAX(best_price) OVER (ORDER BY p_size
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prior_best
      FROM best
    )
    SELECT sk.p_size, ROUND(sk.best_price, 2) AS best_price, sk.n_parts,
           MIN(p.p_partkey) AS exemplar_partkey
    FROM sk JOIN part p
      ON p.p_size = sk.p_size AND p.p_retailprice = sk.best_price
    WHERE sk.prior_best IS NULL OR sk.best_price > sk.prior_best
    GROUP BY sk.p_size, sk.best_price, sk.n_parts
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts under minimize-size /
    maximize-price: the points no other part dominates on both axes,
    with a deterministic exemplar part per frontier point.

    The classic skyline is an O(n^2) dominance join; this plan uses the
    sort-reduce decomposition instead: (1) one map-side-combining
    groupBy(p_size) keeps only each size's best price — the single stage
    proportional to input — then (2) the frontier falls out of a running
    max over the O(|distinct sizes|) reduced rows (a point survives iff
    it beats every smaller size's best). The exemplar lookup joins the
    tiny frontier back broadcast-side. Equality on the double price is
    safe because both sides carry the identical stored value.
    """
    part = load(spark, sf_dir, "part")
    best = part.groupBy("p_size").agg(
        F.max("p_retailprice").alias("best_price"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)
    sk = (
        best.withColumn("prior_best", F.max("best_price").over(w))
        .filter(F.col("prior_best").isNull() | (F.col("best_price") > F.col("prior_best")))
        .select(
            F.col("p_size").alias("sk_size"),
            "best_price",
            "n_parts",
        )
    )
    return (
        part.join(
            F.broadcast(sk),
            (part.p_size == sk.sk_size) & (part.p_retailprice == sk.best_price),
        )
        .groupBy("sk_size", "best_price", "n_parts")
        .agg(F.min("p_partkey").alias("exemplar_partkey"))
        .select(
            F.col("sk_size").alias("p_size"),
            F.round("best_price", 2).alias("best_price"),
            "n_parts",
            "exemplar_partkey",
        )
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding (round 8)
# ---------------------------------------------------------------------------
_TE_SMOOTH = 20  # pseudo-count pulled toward the global mean


@register(
    "ml_target_encode",
    oracle=f"""
    WITH base AS (
      SELECT c.c_mktsegment, n.n_name, o.o_totalprice
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (SELECT AVG(o_totalprice) AS gmean FROM base),
    stacked AS (
      SELECT 'mktsegment' AS feature, c_mktsegment AS category, o_totalprice
      FROM base
      UNION ALL
      SELECT 'nation', n_name, o_totalprice FROM base
    )
    SELECT s.feature, s.category,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(s.o_totalprice), 4) AS raw_mean,
           ROUND((COUNT(*) * AVG(s.o_totalprice) + {_TE_SMOOTH} * g.gmean)
                 / (COUNT(*) + {_TE_SMOOTH}), 4) AS smoothed_mean
    FROM stacked s CROSS JOIN g
    GROUP BY s.feature, s.category, g.gmean
    """,
)
def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding of two categorical features
    (market segment, customer nation) against a continuous target
    (order total): enc = (n * cat_mean + m * global_mean) / (n + m) with
    pseudo-count m=20 — the standard high-cardinality categorical encoder
    (Micci-Barreca 2001) used instead of one-hot when a feature has
    thousands of levels; the shrinkage prevents rare levels from
    memorizing their few targets (label leakage).

    Plan: one fact scan with two broadcast dimension joins, stacked into
    (feature, category) via UNION ALL so BOTH encodings come out of one
    shuffle; the global mean is an O(1) broadcast. At 100 TB this is a
    single map-side-combining aggregate per feature — the encoder table
    (O(levels) rows) then broadcasts back onto training rows."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = o.join(
        F.broadcast(c), c.c_custkey == o.o_custkey
    ).join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
    stacked = base.select(
        F.lit("mktsegment").alias("feature"),
        F.col("c_mktsegment").alias("category"),
        "o_totalprice",
    ).unionAll(
        base.select(
            F.lit("nation").alias("feature"),
            F.col("n_name").alias("category"),
            "o_totalprice",
        )
    )
    g = o.agg(F.avg("o_totalprice").alias("gmean"))
    cnt, mean_, gmean = F.count(F.lit(1)), F.avg("o_totalprice"), F.col("gmean")
    return (
        stacked.crossJoin(F.broadcast(g))
        .groupBy("feature", "category", "gmean")
        .agg(
            cnt.cast("long").alias("n"),
            F.round(mean_, 4).alias("raw_mean"),
            F.round(
                (cnt * mean_ + _TE_SMOOTH * gmean) / (cnt + _TE_SMOOTH), 4
            ).alias("smoothed_mean"),
        )
        .drop("gmean")
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value binning (round 8)
# ---------------------------------------------------------------------------


@register(
    "ml_woe_iv",
    oracle="""
    WITH lab AS (
      SELECT o_totalprice,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    edges AS (
      SELECT quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
      FROM lab
    ),
    binned AS (
      SELECT y, 1 + len(list_filter(e, x -> o_totalprice > x)) AS bin
      FROM lab CROSS JOIN edges
    ),
    tot AS (
      SELECT CAST(SUM(y) AS DOUBLE) AS pos_t,
             CAST(SUM(1 - y) AS DOUBLE) AS neg_t
      FROM binned
    ),
    per AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(1 - y) AS BIGINT) AS n_neg
      FROM binned GROUP BY bin
    )
    SELECT CAST(p.bin AS INT) AS bin, p.n, p.n_pos, p.n_neg,
           ROUND(ln((p.n_pos / t.pos_t) / (p.n_neg / t.neg_t)), 6) AS woe,
           ROUND((p.n_pos / t.pos_t - p.n_neg / t.neg_t)
                 * ln((p.n_pos / t.pos_t) / (p.n_neg / t.neg_t)), 6)
             AS iv_contrib
    FROM per p CROSS JOIN tot t
    """,
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value analysis: bin order value
    into deciles against the is-urgent label;
    WOE_b = ln((pos_b/pos)/(neg_b/neg)) and
    IV_b = (pos_b/pos - neg_b/neg) * WOE_b — the credit-scoring-standard
    monotonic-predictiveness screen (total IV < 0.02 = useless feature,
    > 0.3 = strong) run before committing a feature to a scorecard or
    GBM. Shares its decile machinery with `agg_decile_stats`.

    Decile EDGES come from one exact-percentile aggregate that broadcasts
    back as a 1-row frame — the `orders_rfm` r6 rewrite that removed its
    global NTILE sort: binning is a narrow size(filter(edges, ...))
    projection, so no row-level data ever converges on one partition. At
    100 TB swap the exact percentile for approx_percentile (the
    `etl_winsorize` trade); the WOE/IV algebra downstream only ever sees
    O(bins) rows. WOE enters the hash after ROUND(·, 6) of a ratio of
    exact integer counts, so only ln's last ulp is exposed (the
    text_zipf precedent)."""
    o = load(spark, sf_dir, "orders")
    lab = o.select(
        "o_totalprice",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    edges = lab.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("e")
    )
    binned = lab.crossJoin(F.broadcast(edges)).select(
        "y",
        (1 + F.size(F.expr("filter(e, x -> o_totalprice > x)"))).alias("bin"),
    )
    tot = binned.agg(
        F.sum("y").cast("double").alias("pos_t"),
        F.sum(1 - F.col("y")).cast("double").alias("neg_t"),
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
    )
    ps = F.col("n_pos") / F.col("pos_t")
    ns = F.col("n_neg") / F.col("neg_t")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_pos",
        "n_neg",
        F.round(F.log(ps / ns), 6).alias("woe"),
        F.round((ps - ns) * F.log(ps / ns), 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# K-fold cross-validated regression (round 8)
# ---------------------------------------------------------------------------
_KFOLDS = 5


@register(
    "ml_kfold_linreg",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice AS y,
             CAST(concat('0x', substr(md5(CAST(l_orderkey * 10 + l_linenumber
                                               AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_KFOLDS} AS fold
      FROM lineitem
    ),
    per AS (
      SELECT fold, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM rows_ GROUP BY fold
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
             SUM(x) AS sx_a, SUM(y) AS sy_a, SUM(x*x) AS sxx_a, SUM(x*y) AS sxy_a
      FROM rows_
    ),
    coef AS (
      SELECT p.fold,
             CAST(t.n_all - p.n AS BIGINT) AS n_train,
             CAST(p.n AS BIGINT) AS n_test,
             ((t.n_all - p.n) * (t.sxy_a - p.sxy)
              - (t.sx_a - p.sx) * (t.sy_a - p.sy))
             / ((t.n_all - p.n) * (t.sxx_a - p.sxx)
                - (t.sx_a - p.sx) * (t.sx_a - p.sx)) AS slope,
             ((t.sy_a - p.sy)
              - ((t.n_all - p.n) * (t.sxy_a - p.sxy)
                 - (t.sx_a - p.sx) * (t.sy_a - p.sy))
                / ((t.n_all - p.n) * (t.sxx_a - p.sxx)
                   - (t.sx_a - p.sx) * (t.sx_a - p.sx)) * (t.sx_a - p.sx))
             / (t.n_all - p.n) AS icept
      FROM per p CROSS JOIN tot t
    )
    SELECT c.fold AS fold, c.n_train, c.n_test,
           ROUND(c.slope, 6) AS slope,
           ROUND(c.icept, 4) AS intercept,
           ROUND(SQRT(AVG((r.y - (c.icept + c.slope * r.x))
                          * (r.y - (c.icept + c.slope * r.x)))), 4) AS rmse
    FROM rows_ r JOIN coef c ON c.fold = r.fold
    GROUP BY c.fold, c.n_train, c.n_test, c.slope, c.icept
    """,
)
def ml_kfold_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated simple regression (price ~ quantity) with a
    deterministic md5 fold assignment: each fold's coefficients are the
    closed-form OLS over the OTHER four folds (train sums = global sums
    minus fold sums — no per-fold rescans), evaluated as held-out RMSE.
    The leave-one-fold-out sum algebra is how distributed CV actually
    runs at scale: one pass builds per-fold sufficient statistics, a
    second pass scores — 2 scans total for ALL folds, not 2 per fold.

    Cross-engine: the fold hash is the md5-prefix integer used across the
    repo (`agg_kmv_intersection`, `split_train_test`); sums accumulate in
    engine-specific order so coefficients can differ in the last ulp —
    the hash compares ROUND(slope, 6) / ROUND(rmse, 4), the `agg_linreg`
    exposure class.

    Scale: per-fold stats are one partial-agg shuffle of O(folds) rows;
    scoring broadcasts the O(folds) coefficient table back onto the fact
    scan. Nothing driver-side, nothing quadratic."""
    li = load(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").alias("y"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast(
                            "string"
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _KFOLDS
        ).alias("fold"),
    )
    per = rows_.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = rows_.agg(
        F.count(F.lit(1)).cast("double").alias("n_all"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_a"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_a"),
    )
    nt = F.col("n_all") - F.col("n")
    sx_t = F.col("sx_a") - F.col("sx")
    sy_t = F.col("sy_a") - F.col("sy")
    sxx_t = F.col("sxx_a") - F.col("sxx")
    sxy_t = F.col("sxy_a") - F.col("sxy")
    slope = (nt * sxy_t - sx_t * sy_t) / (nt * sxx_t - sx_t * sx_t)
    icept = (sy_t - slope * sx_t) / nt
    coef = per.crossJoin(F.broadcast(tot)).select(
        "fold",
        nt.cast("long").alias("n_train"),
        F.col("n").cast("long").alias("n_test"),
        slope.alias("slope"),
        icept.alias("icept"),
    )
    resid = F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))
    return (
        rows_.join(F.broadcast(coef), "fold")
        .groupBy("fold", "n_train", "n_test", "slope", "icept")
        .agg(F.round(F.sqrt(F.avg(resid * resid)), 4).alias("rmse"))
        .select(
            "fold",
            "n_train",
            "n_test",
            F.round("slope", 6).alias("slope"),
            F.round("icept", 4).alias("intercept"),
            "rmse",
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout (round 8)
# ---------------------------------------------------------------------------
_CUPED_SPLIT = "1998-01-01"  # covariate period A < split <= experiment period B


@register(
    "ml_cuped_experiment",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS treat,
             SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_CUPED_SPLIT}'
                      THEN o_totalprice ELSE 0 END) AS x_pre,
             SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{_CUPED_SPLIT}'
                      THEN o_totalprice ELSE 0 END) AS y_exp
      FROM orders GROUP BY 1, 2
    ),
    theta AS (
      SELECT covar_samp(y_exp, x_pre) / var_samp(x_pre) AS th,
             AVG(x_pre) AS x_bar
      FROM per
    ),
    adj AS (
      SELECT p.treat, p.y_exp,
             p.y_exp - t.th * (p.x_pre - t.x_bar) AS y_cuped
      FROM per p CROSS JOIN theta t
    )
    SELECT CAST(treat AS INT) AS treat,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(y_exp), 4) AS mean_raw,
           ROUND(AVG(y_cuped), 4) AS mean_cuped,
           ROUND(var_samp(y_exp), 2) AS var_raw,
           ROUND(var_samp(y_cuped), 2) AS var_cuped,
           ROUND(1.0 - var_samp(y_cuped) / var_samp(y_exp), 6)
             AS variance_reduction
    FROM adj GROUP BY treat
    """,
)
def ml_cuped_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, the industry-standard
    A/B-test readout): assign customers to arms by a deterministic md5
    split, take each customer's pre-period spend as the covariate, and
    report per arm the raw and CUPED-adjusted means
    (y - theta*(x - x_bar), theta = cov(y,x)/var(x)) with the achieved
    variance reduction — the number that decides how much shorter the
    experiment can run. Adjusted arm-mean DIFFERENCES are unbiased because
    the same theta and x_bar apply to both arms.

    Plan: one scan builds per-customer (pre, experiment) sums via
    conditional aggregation; theta is an O(1) broadcast; adjustment is a
    narrow projection feeding one O(arms) aggregate. Two passes over the
    per-customer table (theta, then adjusted moments) — the table is
    O(customers), already reduced. Same two-period date split as `dq_psi`;
    variance ratios are engine-identical up to accumulation order, rounded
    like `agg_stats`."""
    o = load(spark, sf_dir, "orders")
    is_pre = F.col("o_orderdate").cast("date") < F.lit(_CUPED_SPLIT).cast("date")
    per = o.groupBy(
        "o_custkey",
        (
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
            ).cast("long")
            % 2
        ).alias("treat"),
    ).agg(
        F.sum(F.when(is_pre, F.col("o_totalprice")).otherwise(0)).alias("x_pre"),
        F.sum(F.when(~is_pre, F.col("o_totalprice")).otherwise(0)).alias("y_exp"),
    )
    theta = per.agg(
        (F.covar_samp("y_exp", "x_pre") / F.var_samp("x_pre")).alias("th"),
        F.avg("x_pre").alias("x_bar"),
    )
    adj = per.crossJoin(F.broadcast(theta)).select(
        "treat",
        "y_exp",
        (F.col("y_exp") - F.col("th") * (F.col("x_pre") - F.col("x_bar"))).alias(
            "y_cuped"
        ),
    )
    return adj.groupBy("treat").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("y_exp"), 4).alias("mean_raw"),
        F.round(F.avg("y_cuped"), 4).alias("mean_cuped"),
        F.round(F.var_samp("y_exp"), 2).alias("var_raw"),
        F.round(F.var_samp("y_cuped"), 2).alias("var_cuped"),
        F.round(1.0 - F.var_samp("y_cuped") / F.var_samp("y_exp"), 6).alias(
            "variance_reduction"
        ),
    ).select(
        F.col("treat").cast("int").alias("treat"),
        "n_users",
        "mean_raw",
        "mean_cuped",
        "var_raw",
        "var_cuped",
        "variance_reduction",
    )


# ---------------------------------------------------------------------------
# Exact binned ROC AUC (round 8, continuation)
# ---------------------------------------------------------------------------
_AUC_BIN = 500  # price-bucket width: caps score cardinality at ~1200 buckets
# Ground-truth label: price + deterministic md5 noise in [0, 3e5) crosses 4e5.
# The fixture's o_totalprice is uniform on ~[1e3, 5e5] and INDEPENDENT of every
# other column (measured: AUC vs lineitem count = 0.499), so a real
# signal-plus-noise label must be constructed: P(pos | price) ramps linearly
# from 0 below 1e5 to 1 above 4e5, class balance ~50%, measured AUC ~ 0.94.
_AUC_NOISE_MOD = 300_000
_AUC_THRESHOLD = 400_000


@register(
    "ml_auc_roc",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice / {_AUC_BIN}) AS BIGINT) AS bucket,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    hist AS (
      SELECT o_orderpriority, bucket,
             CAST(SUM(label) AS DOUBLE) AS pos,
             CAST(COUNT(*) - SUM(label) AS DOUBLE) AS neg
      FROM per GROUP BY 1, 2
    ),
    cum AS (
      SELECT o_orderpriority, bucket, pos, neg,
             SUM(neg) OVER (PARTITION BY o_orderpriority ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - neg AS neg_below
      FROM hist
    )
    SELECT o_orderpriority,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND((SUM(pos * neg_below) + 0.5 * SUM(pos * neg))
                 / (SUM(pos) * SUM(neg)), 6) AS auc
    FROM cum GROUP BY o_orderpriority
    """,
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a histogram-quantized score — the Mann-Whitney
    rank-sum identity (AUC = P(score_pos > score_neg) + ½P(tie))
    computed per order-priority slice, scoring order value against a
    signal-plus-noise ground truth (price + deterministic md5 noise
    crossing a threshold — see `_AUC_NOISE_MOD`; the fixture's columns
    are mutually independent, so the label must be constructed to give
    the estimator real signal: measured AUC ~ 0.94, balance ~50%). The
    score is quantized into {_AUC_BIN}-unit price buckets FIRST — the
    streaming-AUC trick every production ML monitor uses (a histogram
    sketch makes AUC mergeable and one-pass) and the same
    reduce-before-window discipline as the rest of this module: the
    pair-counting identity sum(pos_b * neg_below_b) + ½·sum(pos_b *
    neg_b) needs one cumulative sum over O(buckets) rows per slice,
    never a sort of the raw table.

    Scale: one O(rows) projection (no join — label and score are both
    row-local), one O(slices x buckets) histogram aggregate, one window
    over <= ~1.2k rows per slice. The AUC over the quantized score is
    EXACT for that score (ties handled by the ½ term), deterministic,
    and engine-identical: bucket ids are integer FLOOR of a 2-decimal
    price, the md5 noise draw is the repo's hash-split convention, and
    pair counts are exact integer-valued doubles."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / _AUC_BIN).cast("long").alias("bucket"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1)
        .otherwise(0)
        .alias("label"),
    )
    hist = per.groupBy("o_orderpriority", "bucket").agg(
        F.sum("label").cast("double").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("double").alias("neg"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "o_orderpriority",
        "pos",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).alias("neg_below"),
    )
    return cum.groupBy("o_orderpriority").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(F.col("pos") * F.col("neg_below"))
                + 0.5 * F.sum(F.col("pos") * F.col("neg"))
            )
            / (F.sum("pos") * F.sum("neg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Calibration / reliability bins (round 8, continuation)
# ---------------------------------------------------------------------------
_CAL_MID = 200000.0  # logistic midpoint on o_totalprice
_CAL_SCALE = 80000.0  # logistic scale
_CAL_BINW = 60000  # integer price-bin width -> 10 fixed bins (no libm in keys)


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH per AS (
      SELECT LEAST(9, CAST(FLOOR(o_totalprice / {_CAL_BINW}) AS BIGINT)) AS bin,
             1.0 / (1.0 + EXP(-(o_totalprice - {_CAL_MID}) / {_CAL_SCALE}))
               AS score,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(AVG(score) * 10000) / 10000 AS mean_score,
           FLOOR(AVG(label) * 10000) / 10000 AS frac_pos,
           FLOOR(ABS(AVG(score) - AVG(label)) * 10000) / 10000 AS calib_gap,
           FLOOR(AVG((score - label) * (score - label)) * 10000) / 10000
             AS brier
    FROM per GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: a fixed logistic score
    sigma((price - {_CAL_MID:.0f}) / {_CAL_SCALE:.0f}) predicting the
    same signal-plus-noise label as `ml_auc_roc` (whose TRUE positive
    rate ramps linearly in price — so the logistic "model" is genuinely
    miscalibrated at the ends and the diagram shows real structure),
    grouped into 10 fixed-width price bins; each bin reports mean
    predicted probability vs empirical positive rate (their gap is the
    bin's ECE summand) and the Brier contribution — the standard
    post-deployment calibration monitor (Guo et al. 2017's reliability
    diagram, computed exactly). Bin keys are integer FLOOR of the
    2-decimal price, NOT of the logistic output, so libm never decides
    bin membership; the logistic itself follows the module's trig
    convention (each engine's own libm on identical doubles) and every
    per-bin average FLOORs at 1e-4.

    Scale: one O(rows) scan into a 10-row mergeable aggregate — no
    join, no window, the cheapest possible monitoring query."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    score = 1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - _CAL_MID) / _CAL_SCALE))
    per = o.select(
        F.least(
            F.lit(9), F.floor(F.col("o_totalprice") / _CAL_BINW).cast("long")
        ).alias("bin"),
        score.alias("score"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    f4 = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    return per.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        f4(F.avg("score")).alias("mean_score"),
        f4(F.avg("label")).alias("frac_pos"),
        f4(F.abs(F.avg("score") - F.avg("label"))).alias("calib_gap"),
        f4(F.avg((F.col("score") - F.col("label")) * (F.col("score") - F.col("label")))).alias(
            "brier"
        ),
    )


# ---------------------------------------------------------------------------
# NDCG@k ranking evaluation (round 8, continuation)
# ---------------------------------------------------------------------------
_NDCG_K = 10
_NDCG_REL_DIV = 3  # graded relevance = least(4, order_count / this)


@register(
    "ml_ndcg",
    oracle=f"""
    WITH rel AS (
      SELECT c.c_mktsegment, c.c_custkey, c.c_acctbal,
             LEAST(4, CAST(COALESCE(o.cnt, 0) // {_NDCG_REL_DIV} AS BIGINT))
               AS rel
      FROM customer c
      LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt
                 FROM orders GROUP BY o_custkey) o
        ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
      SELECT c_mktsegment, rel,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC)
               AS rank_sys,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY rel DESC, c_custkey ASC) AS rank_ideal
      FROM rel
    )
    SELECT c_mktsegment,
           FLOOR(SUM(CASE WHEN rank_sys <= {_NDCG_K}
                          THEN (POW(2.0, rel) - 1) / LOG2(rank_sys + 1.0)
                          ELSE 0 END) * 10000) / 10000 AS dcg,
           FLOOR(SUM(CASE WHEN rank_ideal <= {_NDCG_K}
                          THEN (POW(2.0, rel) - 1) / LOG2(rank_ideal + 1.0)
                          ELSE 0 END) * 10000) / 10000 AS idcg,
           FLOOR(SUM(CASE WHEN rank_sys <= {_NDCG_K}
                          THEN (POW(2.0, rel) - 1) / LOG2(rank_sys + 1.0)
                          ELSE 0 END)
                 / SUM(CASE WHEN rank_ideal <= {_NDCG_K}
                            THEN (POW(2.0, rel) - 1) / LOG2(rank_ideal + 1.0)
                            ELSE 0 END) * 10000) / 10000 AS ndcg
    FROM ranked GROUP BY c_mktsegment
    """,
)
def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{_NDCG_K} ranking evaluation (Järvelin & Kekäläinen 2002):
    each market segment is a "query", its customers are the candidate
    list, the system ranks by account balance, and graded relevance is
    the customer's order count bucketed to 0..4 — rank quality of a
    business-rule ranker against observed engagement, the exact shape
    of offline search/recsys eval. DCG uses the standard exponential
    gain (2^rel - 1)/log2(rank + 1); the ideal ordering re-ranks the
    SAME candidates by relevance, so NDCG in [0, 1] is comparable
    across segments. Complements `sim_ann_recall_eval` (set overlap)
    with a position-weighted, graded metric.

    Scale: relevance is a partial-agg groupBy + broadcastable left
    join; both rankings are windows PARTITIONED by query key — at 100
    TB the candidate list per query is naturally bounded (retrieval
    depth), so no global sort ever forms. Ties break on the unique
    custkey in BOTH orderings, making every rank — and the metric —
    deterministic; gains are exact powers of two over integer rel,
    FLOOR 1e-4 absorbing only the log2 libm ulps."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    rel = c.join(cnt, c.c_custkey == cnt.o_custkey, "left").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.least(
            F.lit(4),
            (F.coalesce(F.col("cnt"), F.lit(0)) / _NDCG_REL_DIV).cast("long"),
        ).alias("rel"),
    )
    w_sys = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    w_ideal = Window.partitionBy("c_mktsegment").orderBy(
        F.col("rel").desc(), F.col("c_custkey").asc()
    )
    ranked = rel.select(
        "c_mktsegment",
        "rel",
        F.row_number().over(w_sys).alias("rank_sys"),
        F.row_number().over(w_ideal).alias("rank_ideal"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1
    dcg_term = F.when(
        F.col("rank_sys") <= _NDCG_K, gain / F.log2(F.col("rank_sys") + 1.0)
    ).otherwise(0.0)
    idcg_term = F.when(
        F.col("rank_ideal") <= _NDCG_K, gain / F.log2(F.col("rank_ideal") + 1.0)
    ).otherwise(0.0)
    f4 = lambda col: F.floor(col * 10000) / 10000  # noqa: E731
    return ranked.groupBy("c_mktsegment").agg(
        f4(F.sum(dcg_term)).alias("dcg"),
        f4(F.sum(idcg_term)).alias("idcg"),
        f4(F.sum(dcg_term) / F.sum(idcg_term)).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Cumulative gains / lift deciles (round 8, continuation)
# ---------------------------------------------------------------------------
@register(
    "ml_lift_deciles",
    oracle=f"""
    WITH per AS (
      SELECT LEAST(9, CAST(FLOOR(o_totalprice / {_CAL_BINW}) AS BIGINT)) AS bin,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    ),
    b AS (
      SELECT bin, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
      FROM per GROUP BY bin
    ),
    cum AS (
      SELECT bin, n, pos,
             SUM(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_n,
             SUM(pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_pos,
             SUM(n) OVER () AS tot_n, SUM(pos) OVER () AS tot_pos
      FROM b
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS pos,
           FLOOR(cum_pos / tot_pos * 10000) / 10000 AS capture_rate,
           FLOOR((cum_pos / cum_n) / (tot_pos / tot_n) * 10000) / 10000
             AS cum_lift
    FROM cum
    """,
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table — the campaign-targeting readout
    every scored-population deployment starts with: walk the score bins
    from highest to lowest and report what fraction of all positives is
    captured so far (`capture_rate`, the gains curve) and how many
    times better than random the cumulative slice converts
    (`cum_lift`). Shares the fixed price bins (monotone in the logistic
    score, so bin-descending IS score-descending) and the
    signal-plus-noise label of `ml_auc_roc` / `ml_calibration_bins`,
    completing the offline-eval triptych: AUC (ranking), calibration
    (probabilities), lift (business value of the top slices).

    Plan: one O(rows) scan into a 10-row histogram, then cumulative
    windows over those 10 pre-aggregated rows (the KS-test shape —
    global window input is O(bins), sanctioned). Counts are exact
    integer-valued doubles; ratios FLOOR at 1e-4."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        F.least(
            F.lit(9), F.floor(F.col("o_totalprice") / _CAL_BINW).cast("long")
        ).alias("bin"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    b = per.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.sum("label").alias("pos")
    )
    wd = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wa = Window.partitionBy()
    cum = b.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wd).alias("cum_n"),
        F.sum("pos").over(wd).alias("cum_pos"),
        F.sum("n").over(wa).alias("tot_n"),
        F.sum("pos").over(wa).alias("tot_pos"),
    )
    f4 = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    return cum.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        f4(F.col("cum_pos") / F.col("tot_pos")).alias("capture_rate"),
        f4(
            (F.col("cum_pos") / F.col("cum_n"))
            / (F.col("tot_pos") / F.col("tot_n"))
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted ATE under confounded treatment (round 8, cont.)
# ---------------------------------------------------------------------------
# Treatment assignment is CONFOUNDED by construction: P(treat | bin) =
# (20 + 6*bin)/100 rises with the price bin, and the outcome label also
# rises with price (the ml_auc_roc ramp), so the naive treated-minus-control
# difference is biased upward. The true causal effect is exactly 0 (treatment
# never enters the outcome draw); IPW with the known propensity must recover
# ~0 while the naive estimate shows the confounding bias.


@register(
    "ml_ipw_ate",
    oracle=f"""
    WITH per AS (
      SELECT bin,
             CASE WHEN tdraw < 20 + 6 * bin THEN 1.0 ELSE 0.0 END AS treat,
             (20 + 6 * bin) / 100.0 AS p,
             label
      FROM (
        SELECT LEAST(9, CAST(FLOOR(o_totalprice / {_CAL_BINW}) AS BIGINT)) AS bin,
               CAST(concat('0x', substr(md5(concat('t', CAST(o_orderkey
                                                             AS VARCHAR))),
                                        1, 15)) AS BIGINT) % 100 AS tdraw,
               CASE WHEN o_totalprice
                         + CAST(concat('0x', substr(md5(CAST(o_orderkey
                                                             AS VARCHAR)),
                                                    1, 15)) AS BIGINT)
                           % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                    THEN 1.0 ELSE 0.0 END AS label
        FROM orders
      )
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(treat) AS BIGINT) AS n_treat,
           FLOOR((SUM(treat * label) / SUM(treat)
                  - SUM((1 - treat) * label) / SUM(1 - treat)) * 10000) / 10000
             AS naive_diff,
           FLOOR((SUM(treat * label / p) - SUM((1 - treat) * label / (1 - p)))
                 / COUNT(*) * 10000) / 10000 AS ipw_ate,
           FLOOR((SUM(treat * label / p) / SUM(treat / p)
                  - SUM((1 - treat) * label / (1 - p))
                    / SUM((1 - treat) / (1 - p))) * 10000) / 10000
             AS hajek_ate
    FROM per
    """,
)
def ml_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Horvitz-
    Thompson 1952 / Rosenbaum-Rubin 1983) under a deliberately
    CONFOUNDED deterministic assignment: treatment probability rises
    with the price bin and so does the outcome, so the naive
    treated-vs-control difference is biased upward by construction
    while the true effect is exactly zero. Reports the naive
    difference, the Horvitz-Thompson IPW estimate, and the
    self-normalized Hajek estimate — the observational-causal-inference
    counterpart to `ml_cuped_experiment`'s randomized readout (CUPED
    reduces variance under a clean split; IPW removes bias when the
    split was never clean).

    Plan: one O(rows) scan — bin, the two independent md5 draws, and
    all three estimators are conditional sums in a single mergeable
    aggregate; no join, no window. Propensities are exact rationals
    from integer bins, both md5 draws are the repo's hash-split
    convention, FLOOR 1e-4 absorbs accumulation-order ulps."""
    o = load(spark, sf_dir, "orders")
    bin_ = F.least(F.lit(9), F.floor(F.col("o_totalprice") / _CAL_BINW).cast("long"))
    tdraw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("t"), F.col("o_orderkey").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(bin_.alias("bin"), tdraw.alias("tdraw"), noise.alias("noise"),
                   "o_totalprice").select(
        F.when(F.col("tdraw") < 20 + 6 * F.col("bin"), 1.0).otherwise(0.0).alias(
            "treat"
        ),
        ((20 + 6 * F.col("bin")) / 100.0).alias("p"),
        F.when(F.col("o_totalprice") + F.col("noise") > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    f4 = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    t, lbl, p = F.col("treat"), F.col("label"), F.col("p")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("treat").cast("long").alias("n_treat"),
        f4(
            F.sum(t * lbl) / F.sum(t) - F.sum((1 - t) * lbl) / F.sum(1 - t)
        ).alias("naive_diff"),
        f4(
            (F.sum(t * lbl / p) - F.sum((1 - t) * lbl / (1 - p)))
            / F.count(F.lit(1))
        ).alias("ipw_ate"),
        f4(
            F.sum(t * lbl / p) / F.sum(t / p)
            - F.sum((1 - t) * lbl / (1 - p)) / F.sum((1 - t) / (1 - p))
        ).alias("hajek_ate"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over day-of-week effects (round 8, continuation)
# ---------------------------------------------------------------------------
_BH_ALPHA = 0.1
# Zelen & Severo (A&S 26.2.17) normal survival function — ONE text emitted to
# both engines (Spark via F.expr), Horner form so the float op order is
# identical; max abs error 7.5e-8, far below any p-value decision here.
_NORM_SF = (
    "(exp(-({z}) * ({z}) / 2) / 2.5066282746310002)"
    " * (((((1.330274429 * {t} - 1.821255978) * {t} + 1.781477937) * {t}"
    " - 0.356563782) * {t} + 0.31938153) * {t})"
).format
_T_OF_Z = "(1.0 / (1.0 + 0.2316419 * ({z})))".format


def _two_sided_p(zcol: str) -> str:
    az = f"abs({zcol})"
    t = _T_OF_Z(z=az)
    return f"LEAST(1.0, 2.0 * {_NORM_SF(z=az, t=t)})"


@register(
    "agg_fdr_bh",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    cell AS (
      SELECT event_type, d % 7 AS dow,
             CAST(COUNT(*) AS DOUBLE) AS n1,
             SUM(y) AS s1, SUM(y * y) AS q1
      FROM daily GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS nt,
             SUM(y) AS st, SUM(y * y) AS qt
      FROM daily GROUP BY 1
    ),
    z AS (
      SELECT c.event_type, c.dow, c.n1,
             (c.s1 / c.n1 - (t.st - c.s1) / (t.nt - c.n1)) AS diff,
             (c.s1 / c.n1 - (t.st - c.s1) / (t.nt - c.n1))
             / sqrt(
                 ((c.q1 - c.s1 * c.s1 / c.n1) / (c.n1 - 1)) / c.n1
                 + (((t.qt - c.q1) - (t.st - c.s1) * (t.st - c.s1)
                     / (t.nt - c.n1)) / ((t.nt - c.n1) - 1)) / (t.nt - c.n1)
               ) AS zstat
      FROM cell c JOIN tot t USING (event_type)
    ),
    p AS (
      SELECT event_type, dow, CAST(n1 AS BIGINT) AS n_days, diff, zstat,
             {_two_sided_p('zstat')} AS pval
      FROM z
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pval ASC, event_type, dow) AS rk,
             CAST(COUNT(*) OVER () AS DOUBLE) AS m
      FROM p
    ),
    cut AS (
      SELECT *, MAX(CASE WHEN pval <= rk * {_BH_ALPHA} / m THEN rk ELSE 0 END)
                  OVER () AS kmax
      FROM ranked
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow, n_days,
           FLOOR(diff * 10000) / 10000 AS mean_diff,
           FLOOR(zstat * 1000) / 1000 AS z,
           FLOOR(pval * 1000000) / 1000000 AS p,
           CAST(rk AS BIGINT) AS p_rank,
           CAST(rk <= kmax AS BOOLEAN) AS reject_fdr10
    FROM cut
    """,
)
def agg_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (1995) over a real multiple-testing
    family: for each (event type, day-of-week) cell, a Welch z-test of
    that weekday's daily event count against the type's OTHER days
    (computed by sum algebra — the rest-group moments are derived from
    totals, never a second scan), then the BH step-up across all 35
    hypotheses at alpha={_BH_ALPHA}: reject every p below the largest
    p_(k) <= k*alpha/m. Measured across tiers the procedure exercises
    BOTH outcomes: at sf0.001 two small-n cells genuinely reject
    (near-zero within-cell variance), while at sf0.01/sf0.1 the family
    is null (min p ~ 0.003-0.019) and BH correctly rejects NOTHING even
    though naive per-test alpha=0.1 would reject several — the
    false-discovery inflation BH exists to cap, demonstrated rather
    than narrated. Two-sided p-values use the Zelen &
    Severo normal-tail polynomial, emitted as ONE text into both
    engines (Horner form, identical float op order; `spatial_htm`
    convention).

    Plan: one partial agg to O(types x days), one to O(types x 7)
    cells, a broadcast join of the per-type totals, then the BH rank
    runs over 35 pre-aggregated rows (sanctioned global window). At
    100 TB the test family grows with slices, not rows — the window
    input stays O(hypotheses)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).alias("d"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    cell = daily.groupBy("event_type", (F.col("d") % 7).alias("dow")).agg(
        F.count(F.lit(1)).cast("double").alias("n1"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("q1"),
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nt"),
        F.sum("y").alias("st"),
        F.sum(F.col("y") * F.col("y")).alias("qt"),
    )
    n1, s1, q1 = F.col("n1"), F.col("s1"), F.col("q1")
    nt, st, qt = F.col("nt"), F.col("st"), F.col("qt")
    mean1, mean2 = s1 / n1, (st - s1) / (nt - n1)
    var1 = (q1 - s1 * s1 / n1) / (n1 - 1)
    var2 = ((qt - q1) - (st - s1) * (st - s1) / (nt - n1)) / ((nt - n1) - 1)
    z = cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "n1",
        (mean1 - mean2).alias("diff"),
        ((mean1 - mean2) / F.sqrt(var1 / n1 + var2 / (nt - n1))).alias("zstat"),
    )
    p = z.select(
        "event_type",
        "dow",
        F.col("n1").cast("long").alias("n_days"),
        "diff",
        "zstat",
        F.expr(_two_sided_p("zstat")).alias("pval"),
    )
    wrk = Window.orderBy(F.col("pval").asc(), F.col("event_type"), F.col("dow"))
    wall = Window.partitionBy()
    ranked = p.select(
        "*",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("double").alias("m"),
    )
    cut = ranked.select(
        "*",
        F.max(
            F.when(
                F.col("pval") <= F.col("rk") * _BH_ALPHA / F.col("m"), F.col("rk")
            ).otherwise(0)
        )
        .over(wall)
        .alias("kmax"),
    )
    return cut.select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        "n_days",
        (F.floor(F.col("diff") * 10000) / 10000).alias("mean_diff"),
        (F.floor(F.col("zstat") * 1000) / 1000).alias("z"),
        (F.floor(F.col("pval") * 1000000) / 1000000).alias("p"),
        F.col("rk").cast("long").alias("p_rank"),
        (F.col("rk") <= F.col("kmax")).alias("reject_fdr10"),
    )


# ---------------------------------------------------------------------------
# Paired t-test on per-customer period deltas (round 8, continuation)
# ---------------------------------------------------------------------------
_PAIRED_SPLIT = "1997-07-01"


@register(
    "agg_paired_ttest",
    oracle=f"""
    WITH per AS (
      SELECT c.c_mktsegment, o.o_custkey,
             SUM(CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '{_PAIRED_SPLIT}'
                      THEN CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                      ELSE 0 END) AS a,
             SUM(CASE WHEN CAST(o.o_orderdate AS DATE) >= DATE '{_PAIRED_SPLIT}'
                      THEN CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                      ELSE 0 END) AS b,
             CAST(MAX(CASE WHEN CAST(o.o_orderdate AS DATE)
                                < DATE '{_PAIRED_SPLIT}' THEN 1 ELSE 0 END)
                  * MAX(CASE WHEN CAST(o.o_orderdate AS DATE)
                                  >= DATE '{_PAIRED_SPLIT}' THEN 1 ELSE 0 END)
                  AS BOOLEAN) AS paired
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(CAST(SUM(b - a) AS DOUBLE) * 100.0 / COUNT(*)) / 10000
             AS mean_delta,
           FLOOR(AVG(CAST(b - a AS DOUBLE))
                 / (stddev_samp(CAST(b - a AS DOUBLE)) / sqrt(COUNT(*)))
                 * 10000) / 10000 AS t_stat
    FROM per WHERE paired
    GROUP BY c_mktsegment
    """,
)
def agg_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test of per-customer spend before vs after
    {_PAIRED_SPLIT}, by market segment — the within-subject design that
    removes between-customer variance entirely (each customer is their
    own control), which is why it detects far smaller shifts than
    `agg_welch_ttest`'s unpaired comparison at the same n. Only
    customers active in BOTH periods pair (the MAX-flag product); the
    statistic is mean(delta) / (sd(delta)/sqrt(n)). Completes the
    testing family: Welch (unpaired), paired (within-subject), KS
    (distributional), chi-square (categorical), BH (the multiplicity
    layer over any of them).

    Plan: one conditional-aggregation pass over the orders-customer
    join to O(customers) rows (the CUPED/segment-migration split
    shape), one O(segments) moment aggregate. Period spends accumulate
    as EXACT BIGINT cents (the 2-decimal fixture prices integerize
    losslessly), so mean_delta is one correctly-rounded division of
    identical integers in both engines — the double-sum version flaked
    at an exact 1e-4 FLOOR grid point (measured: MACHINERY at sf0.01
    lands on the grid because its cent total divides by n_pairs);
    the t statistic is scale-invariant to the cent units. FLOOR 1e-4."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    is_a = F.col("o_orderdate").cast("date") < F.lit(_PAIRED_SPLIT).cast("date")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.when(is_a, cents).otherwise(0)).alias("a"),
            F.sum(F.when(~is_a, cents).otherwise(0)).alias("b"),
            (
                F.max(F.when(is_a, 1).otherwise(0))
                * F.max(F.when(~is_a, 1).otherwise(0))
            )
            .cast("boolean")
            .alias("paired"),
        )
    )
    d = F.col("b") - F.col("a")
    dd = d.cast("double")
    return (
        per.filter(F.col("paired"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                F.floor(F.sum(d).cast("double") * 100.0 / F.count(F.lit(1)))
                / 10000
            ).alias("mean_delta"),
            (
                F.floor(
                    F.avg(dd)
                    / (F.stddev_samp(dd) / F.sqrt(F.count(F.lit(1))))
                    * 10000
                )
                / 10000
            ).alias("t_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Delete-one jackknife SE for a ratio metric (round 8, continuation)
# ---------------------------------------------------------------------------
@register(
    "agg_jackknife_ratio_se",
    oracle="""
    WITH per AS (
      SELECT c.c_mktsegment, o.o_custkey,
             SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS a,
             CAST(COUNT(*) AS BIGINT) AS b
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT c_mktsegment, SUM(a) AS sa, SUM(b) AS sb,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM per GROUP BY c_mktsegment
    ),
    loo AS (
      SELECT p.c_mktsegment, t.n, t.sa, t.sb,
             CAST(t.sa - p.a AS DOUBLE) / CAST(t.sb - p.b AS DOUBLE) / 100.0
             - CAST(t.sa AS DOUBLE) / t.sb / 100.0 AS lc
      FROM per p JOIN tot t USING (c_mktsegment)
    )
    SELECT c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           FLOOR(CAST(MAX(sa) AS DOUBLE) / MAX(sb) / 100.0 * 10000) / 10000
             AS revenue_per_order,
           FLOOR(sqrt((MAX(n) - 1) / MAX(n)
                      * (SUM(lc * lc) - COUNT(*) * AVG(lc) * AVG(lc)))
                 * 10000) / 10000 AS jackknife_se
    FROM loo GROUP BY c_mktsegment
    """,
)
def agg_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife standard error of a RATIO metric (revenue
    per order, by segment) — the estimator A/B-test platforms use for
    ratio metrics because the naive per-row variance is simply wrong
    when both numerator and denominator are random (Deng et al. 2017;
    the delta method's resampling-free sibling). The n leave-one-out
    replicates come from SUM ALGEBRA — (SA - a_i)/(SB - b_i) off the
    broadcast totals, the `ml_kfold_linreg` trick — so "resampling"
    costs one scan, not n. Numerators accumulate as exact BIGINT cents
    (the `agg_paired_ttest` lesson, applied preemptively).

    Plan: one partial agg to O(customers), one O(segments) totals
    broadcast, one variance aggregate over the replicates. FLOOR
    1e-4."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(cents).alias("a"),
            F.count(F.lit(1)).cast("long").alias("b"),
        )
    )
    tot = per.groupBy("c_mktsegment").agg(
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    loo = per.join(F.broadcast(tot), "c_mktsegment").select(
        "c_mktsegment",
        "n",
        "sa",
        "sb",
        # centered replicate: l_i minus the (deterministic, per-segment)
        # full-sample ratio. The raw one-pass identity sum(l^2) - n*mean^2
        # subtracts two ~1e15 numbers to extract a ~1e9 variance at the
        # sf1 tier and the lost digits differ by accumulation order
        # (measured: SE 270.506 vs 270.5088 cross-engine) — centering
        # makes every summand O(deviation), killing the cancellation.
        (
            (F.col("sa") - F.col("a")).cast("double")
            / (F.col("sb") - F.col("b")).cast("double")
            / 100.0
            - F.col("sa").cast("double") / F.col("sb") / 100.0
        ).alias("lc"),
    )
    return loo.groupBy("c_mktsegment").agg(
        F.max("n").cast("long").alias("n_customers"),
        (
            F.floor(
                F.max("sa").cast("double") / F.max("sb") / 100.0 * 10000
            )
            / 10000
        ).alias("revenue_per_order"),
        (
            F.floor(
                F.sqrt(
                    (F.max("n") - 1)
                    / F.max("n")
                    * (
                        F.sum(F.col("lc") * F.col("lc"))
                        - F.count(F.lit(1)) * F.avg("lc") * F.avg("lc")
                    )
                )
                * 10000
            )
            / 10000
        ).alias("jackknife_se"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between two deterministic classifiers (round 8, continuation)
# ---------------------------------------------------------------------------
_KAPPA_RULE_CUT = 300_000.0  # rule classifier: price above this


@register(
    "agg_cohens_kappa",
    oracle=f"""
    WITH per AS (
      SELECT CASE WHEN o_totalprice > {_KAPPA_RULE_CUT} THEN 1 ELSE 0 END
               AS rule_pred,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey
                                                           AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    cells AS (
      SELECT rule_pred, label, CAST(COUNT(*) AS DOUBLE) AS n
      FROM per GROUP BY 1, 2
    ),
    m AS (
      SELECT SUM(n) AS nn,
             SUM(CASE WHEN rule_pred = label THEN n ELSE 0 END) AS agree,
             SUM(CASE WHEN rule_pred = 1 THEN n ELSE 0 END) AS r1,
             SUM(CASE WHEN label = 1 THEN n ELSE 0 END) AS l1
      FROM cells
    )
    SELECT CAST(nn AS BIGINT) AS n,
           FLOOR(agree / nn * 10000) / 10000 AS observed_agreement,
           FLOOR((r1 * l1 + (nn - r1) * (nn - l1)) / (nn * nn) * 10000)
             / 10000 AS chance_agreement,
           FLOOR((agree / nn - (r1 * l1 + (nn - r1) * (nn - l1)) / (nn * nn))
                 / (1 - (r1 * l1 + (nn - r1) * (nn - l1)) / (nn * nn))
                 * 10000) / 10000 AS kappa
    FROM m
    """,
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (1960) between two binary classifiers of the same
    rows — a fixed price-threshold rule and the signal-plus-noise label
    — the chance-corrected agreement statistic every labeling pipeline
    reports before trusting raters or weak-supervision sources (raw
    agreement flatters whenever marginals are skewed; kappa subtracts
    the agreement two INDEPENDENT raters with these marginals would hit
    anyway). The noisy ramp label agrees with the hard threshold far
    above chance but far below 1 — both failure modes of reading raw
    agreement are visible in one row.

    Plan: one O(rows) projection into a 4-cell contingency aggregate —
    counts exact, kappa a ratio of exact integer products, FLOOR 1e-4.
    Mergeable at any scale."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        F.when(F.col("o_totalprice") > _KAPPA_RULE_CUT, 1).otherwise(0).alias(
            "rule_pred"
        ),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1)
        .otherwise(0)
        .alias("label"),
    )
    m = per.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum(
            F.when(F.col("rule_pred") == F.col("label"), 1.0).otherwise(0.0)
        ).alias("agree"),
        F.sum(F.col("rule_pred").cast("double")).alias("r1"),
        F.sum(F.col("label").cast("double")).alias("l1"),
    )
    po = F.col("agree") / F.col("nn")
    pe = (
        F.col("r1") * F.col("l1")
        + (F.col("nn") - F.col("r1")) * (F.col("nn") - F.col("l1"))
    ) / (F.col("nn") * F.col("nn"))
    f4 = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    return m.select(
        F.col("nn").cast("long").alias("n"),
        f4(po).alias("observed_agreement"),
        f4(pe).alias("chance_agreement"),
        f4((po - pe) / (1 - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test on paired period deltas (round 8, continuation)
# ---------------------------------------------------------------------------
@register(
    "agg_wilcoxon_signed_rank",
    oracle=f"""
    WITH per AS (
      SELECT c.c_mktsegment, o.o_custkey,
             SUM(CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '{_PAIRED_SPLIT}'
                      THEN CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                      ELSE 0 END) AS a,
             SUM(CASE WHEN CAST(o.o_orderdate AS DATE) >= DATE '{_PAIRED_SPLIT}'
                      THEN CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                      ELSE 0 END) AS b,
             CAST(MAX(CASE WHEN CAST(o.o_orderdate AS DATE)
                                < DATE '{_PAIRED_SPLIT}' THEN 1 ELSE 0 END)
                  * MAX(CASE WHEN CAST(o.o_orderdate AS DATE)
                                  >= DATE '{_PAIRED_SPLIT}' THEN 1 ELSE 0 END)
                  AS BOOLEAN) AS paired
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    deltas AS (
      SELECT c_mktsegment, b - a AS d, ABS(b - a) AS ad
      FROM per WHERE paired AND b - a <> 0
    ),
    ranked AS (
      SELECT c_mktsegment, d,
             RANK() OVER (PARTITION BY c_mktsegment ORDER BY ad)
               + (CAST(COUNT(*) OVER (PARTITION BY c_mktsegment, ad)
                       AS DOUBLE) - 1) / 2 AS arank
      FROM deltas
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_nonzero,
           FLOOR(SUM(CASE WHEN d > 0 THEN arank ELSE 0 END) * 100) / 100
             AS w_plus,
           FLOOR((SUM(CASE WHEN d > 0 THEN arank ELSE 0 END)
                  - CAST(COUNT(*) AS DOUBLE) * (COUNT(*) + 1) / 4)
                 / sqrt(CAST(COUNT(*) AS DOUBLE) * (COUNT(*) + 1)
                        * (2 * COUNT(*) + 1) / 24)
                 * 10000) / 10000 AS z_stat
    FROM ranked GROUP BY c_mktsegment
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (1945) on the same per-customer
    pre/post spend deltas as `agg_paired_ttest` — the nonparametric
    within-subject test: rank |delta| with AVERAGE ranks for ties
    (rank_min + (ties-1)/2), sum the ranks of positive deltas (W+),
    and compare against the exact null moments n(n+1)/4 and
    n(n+1)(2n+1)/24. Where the paired t trusts the delta MAGNITUDES,
    Wilcoxon trusts only their ordering — the robustness trade every
    experimentation platform offers side by side. Zero deltas drop
    (the standard convention); deltas are exact integer cents, so
    "zero" is exact, not an epsilon.

    Plan: the paired-ttest split to O(customers), average ranks via
    one segment-PARTITIONED rank window plus a (segment, |d|)
    tie-count window (no second sort — same ordering key), one moment
    aggregate. Ranks are exact half-integers; only the z denominator
    touches libm; FLOOR 1e-4 (W+ at 1e-2 — half-integer grid)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    is_a = F.col("o_orderdate").cast("date") < F.lit(_PAIRED_SPLIT).cast("date")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.when(is_a, cents).otherwise(0)).alias("a"),
            F.sum(F.when(~is_a, cents).otherwise(0)).alias("b"),
            (
                F.max(F.when(is_a, 1).otherwise(0))
                * F.max(F.when(~is_a, 1).otherwise(0))
            )
            .cast("boolean")
            .alias("paired"),
        )
    )
    deltas = (
        per.filter(F.col("paired") & (F.col("b") != F.col("a")))
        .select(
            "c_mktsegment",
            (F.col("b") - F.col("a")).alias("d"),
            F.abs(F.col("b") - F.col("a")).alias("ad"),
        )
    )
    wr = Window.partitionBy("c_mktsegment").orderBy("ad")
    wt = Window.partitionBy("c_mktsegment", "ad")
    ranked = deltas.select(
        "c_mktsegment",
        "d",
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wt).cast("double") - 1) / 2
        ).alias("arank"),
    )
    n = F.count(F.lit(1)).cast("double")
    wplus = F.sum(F.when(F.col("d") > 0, F.col("arank")).otherwise(0.0))
    ez = n * (n + 1) / 4
    vz = n * (n + 1) * (2 * n + 1) / 24
    return ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_nonzero"),
        (F.floor(wplus * 100) / 100).alias("w_plus"),
        (F.floor((wplus - ez) / F.sqrt(vz) * 10000) / 10000).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U via the histogram identity (round 8, continuation)
# ---------------------------------------------------------------------------
@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH per AS (
      SELECT CAST(FLOOR(o_totalprice / {_AUC_BIN}) AS BIGINT) AS bucket,
             CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderstatus IN ('O', 'F')
    ),
    hist AS (
      SELECT bucket,
             CAST(SUM(grp) AS DOUBLE) AS n1b,
             CAST(COUNT(*) - SUM(grp) AS DOUBLE) AS n2b
      FROM per GROUP BY bucket
    ),
    cum AS (
      SELECT n1b, n2b,
             SUM(n2b) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n2b AS below
      FROM hist
    )
    SELECT CAST(SUM(n1b) AS BIGINT) AS n_open,
           CAST(SUM(n2b) AS BIGINT) AS n_filled,
           FLOOR((SUM(n1b * below) + 0.5 * SUM(n1b * n2b)) * 10) / 10 AS u_stat,
           FLOOR((SUM(n1b * below) + 0.5 * SUM(n1b * n2b)
                  - SUM(n1b) * SUM(n2b) / 2)
                 / sqrt(SUM(n1b) * SUM(n2b)
                        * (SUM(n1b) + SUM(n2b) + 1) / 12)
                 * 10000) / 10000 AS z_stat
    FROM cum
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test (1947) of open ('O') vs filled ('F') order
    prices via the same histogram pair-counting identity as
    `ml_auc_roc` (U = sum over buckets of n1_b * n2_below + ½ n1_b n2_b
    — U/(n1·n2) IS the AUC), with the large-sample z against the null
    moments n1·n2/2 and n1·n2(n+1)/12. Completes the two-sample
    toolkit's nonparametric corner: Welch (parametric unpaired), paired
    t / Wilcoxon (within-subject), KS (distributional shape),
    Mann-Whitney (unpaired, order-only). The fixture's price is
    independent of status, so z sits near 0 — a TRUE null where the
    constructed-label `ml_auc_roc` shows signal; the variance omits
    the tie correction (documented: buckets tie by construction, the
    correction is O(sum t³/n³) ~ 1e-3 here and identical both engines
    either way).

    Plan: identical exchange to `ml_auc_roc`/`agg_ks_test`: one
    O(rows) projection, one bucket histogram, one cumulative window
    over O(buckets) rows (sanctioned KS shape). U is an exact
    half-integer (FLOOR 1e-1); z FLOORs at 1e-4."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus").isin("O", "F"))
    per = o.select(
        F.floor(F.col("o_totalprice") / _AUC_BIN).cast("long").alias("bucket"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("grp"),
    )
    hist = per.groupBy("bucket").agg(
        F.sum("grp").cast("double").alias("n1b"),
        (F.count(F.lit(1)) - F.sum("grp")).cast("double").alias("n2b"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n1b", "n2b", (F.sum("n2b").over(w) - F.col("n2b")).alias("below")
    )
    u = F.sum(F.col("n1b") * F.col("below")) + 0.5 * F.sum(
        F.col("n1b") * F.col("n2b")
    )
    n1, n2 = F.sum("n1b"), F.sum("n2b")
    return cum.agg(
        n1.cast("long").alias("n_open"),
        n2.cast("long").alias("n_filled"),
        (F.floor(u * 10) / 10).alias("u_stat"),
        (
            F.floor(
                (u - n1 * n2 / 2) / F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12) * 10000
            )
            / 10000
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# SPRT sequential A/B monitor (round 8, continuation)
# ---------------------------------------------------------------------------
_SPRT_P0, _SPRT_P1 = 0.48, 0.52  # null / alternative conversion rates
_SPRT_ALPHA, _SPRT_BETA = 0.05, 0.2  # error targets -> Wald boundaries


@register(
    "ml_sprt_monitor",
    oracle=f"""
    WITH per AS (
      SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               // 30 AS t,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey
                                                           AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS conv
      FROM orders
    ),
    daily AS (
      SELECT t, SUM(conv) AS s, CAST(COUNT(*) AS DOUBLE) - SUM(conv) AS f
      FROM per GROUP BY t
    ),
    walk AS (
      SELECT t,
             SUM(s) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cs,
             SUM(f) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cf
      FROM daily
    )
    SELECT CAST(t AS BIGINT) AS period,
           CAST(cs AS BIGINT) AS conversions,
           CAST(cf AS BIGINT) AS failures,
           FLOOR((cs * ln({_SPRT_P1} / {_SPRT_P0})
                  + cf * ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})))
                 * 10000) / 10000 AS llr,
           CASE WHEN cs * ln({_SPRT_P1} / {_SPRT_P0})
                     + cf * ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0}))
                     >= ln((1 - {_SPRT_BETA}) / {_SPRT_ALPHA})
                THEN 'accept_h1'
                WHEN cs * ln({_SPRT_P1} / {_SPRT_P0})
                     + cf * ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0}))
                     <= ln({_SPRT_BETA} / (1 - {_SPRT_ALPHA}))
                THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM walk
    """,
)
def ml_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (1945) as an
    always-valid A/B monitor: the cumulative log-likelihood ratio of
    the running conversion record under H1 (p={_SPRT_P1}) vs H0
    (p={_SPRT_P0}), checked each 30-day period against the Wald
    boundaries ln((1-beta)/alpha) and ln(beta/(1-alpha)) — the
    peeking-safe decision rule fixed-horizon tests forbid and modern
    experimentation platforms rebuilt as mSPRT. The constructed label
    converts at ~0.50 — BETWEEN the hypotheses — so the monitor
    genuinely walks: the LLR drifts slowly and the early periods read
    'continue' while the accumulated evidence eventually crosses (at
    sf0.01 the walk ends in a decision), both regimes exercised.

    Plan: one scan to O(periods) conversion counts, one cumulative
    window over those ~80 rows (sanctioned KS shape), decisions as
    CASE on the unfloored walk (identical doubles: integer counts
    times ONE ln constant evaluated per engine — the boundary
    constants are exact text in both). LLR FLOORs at 1e-4."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') div 30"
        ).alias("t"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("conv"),
    )
    daily = per.groupBy("t").agg(
        F.sum("conv").alias("s"),
        (F.count(F.lit(1)) - F.sum("conv")).cast("double").alias("f"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = daily.select(
        "t",
        F.sum("s").over(w).alias("cs"),
        F.sum("f").over(w).alias("cf"),
    )
    import math as _m

    la = _m.log(_SPRT_P1 / _SPRT_P0)
    lb = _m.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    up = _m.log((1 - _SPRT_BETA) / _SPRT_ALPHA)
    lo = _m.log(_SPRT_BETA / (1 - _SPRT_ALPHA))
    llr = F.col("cs") * la + F.col("cf") * lb
    return walk.select(
        F.col("t").cast("long").alias("period"),
        F.col("cs").cast("long").alias("conversions"),
        F.col("cf").cast("long").alias("failures"),
        (F.floor(llr * 10000) / 10000).alias("llr"),
        F.when(llr >= up, "accept_h1")
        .when(llr <= lo, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Confusion matrix / operating-point metrics (round 9)
# ---------------------------------------------------------------------------
_CM_THRESHOLDS = (0.25, 0.5, 0.75)


@register(
    "ml_confusion_matrix",
    oracle=f"""
    WITH per AS (
      SELECT 1.0 / (1.0 + EXP(-(o_totalprice - {_CAL_MID}) / {_CAL_SCALE}))
               AS score,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    cells AS (
      SELECT t.th,
             CAST(SUM(CASE WHEN score >= t.th AND label = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN score >= t.th AND label = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN score < t.th AND label = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN score < t.th AND label = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM per CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(th)
      GROUP BY t.th
    )
    SELECT CAST(th AS DOUBLE) AS threshold, tp, fp, fn, tn,
           ROUND(tp * 1.0 / (tp + fp), 6) AS precision_,
           ROUND(tp * 1.0 / (tp + fn), 6) AS recall_,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
           ROUND((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy
    FROM cells
    """,
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix and operating-point metrics (precision / recall /
    F1 / accuracy) at three score thresholds — the table every model
    card publishes next to the AUC, and the per-threshold view
    `ml_auc_roc` integrates away. Scores the same fixed logistic model
    as `ml_calibration_bins` against the same signal-plus-noise label
    as `ml_auc_roc` (see `_AUC_NOISE_MOD`), so the three ml-eval
    operators describe one coherent model: its ranking power (AUC), its
    calibration (reliability bins), and its decision quality at chosen
    cutoffs (here).

    All four cells are exact integer counts; the derived ratios divide
    identical integers in both engines (F1 uses the 2TP/(2TP+FP+FN)
    form — no intermediate precision/recall rounding), rounded at 1e-6
    for display. The threshold comparison applies each engine's libm
    EXP to identical doubles (the module's trig convention); thresholds
    sit far from any score's 1-ulp neighbourhood at every tier.

    Scale: one O(rows) scan fanned out 3x by a literal threshold array
    into a 3-row mergeable aggregate — no join, no window, no shuffle
    beyond the final partial-agg merge; the monitoring query shape that
    runs per-deploy at any volume."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    score = 1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - _CAL_MID) / _CAL_SCALE))
    per = o.select(
        score.alias("score"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1)
        .otherwise(0)
        .alias("label"),
        F.explode(F.array(*[F.lit(t) for t in _CM_THRESHOLDS])).alias("th"),
    )
    pred = F.col("score") >= F.col("th")
    pos = F.col("label") == 1
    cells = per.groupBy("th").agg(
        F.sum((pred & pos).cast("int")).cast("long").alias("tp"),
        F.sum((pred & ~pos).cast("int")).cast("long").alias("fp"),
        F.sum((~pred & pos).cast("int")).cast("long").alias("fn"),
        F.sum((~pred & ~pos).cast("int")).cast("long").alias("tn"),
    )
    return cells.select(
        F.col("th").alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6).alias("precision_"),
        F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fn")), 6).alias("recall_"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn"))
            * 1.0
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Decision stump: exhaustive best-split search (round 9)
# ---------------------------------------------------------------------------
_STUMP_BINW = 25_000  # candidate thresholds every 25k of o_totalprice


@register(
    "ml_decision_stump",
    oracle=f"""
    WITH per AS (
      SELECT CAST(FLOOR(o_totalprice / {_STUMP_BINW}) AS BIGINT) AS bucket,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    ),
    hist AS (
      SELECT bucket, SUM(label) AS pos,
             CAST(COUNT(*) AS DOUBLE) - SUM(label) AS neg
      FROM per GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, pos, neg,
             SUM(pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cpos,
             SUM(neg) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cneg,
             SUM(pos) OVER () AS tpos,
             SUM(neg) OVER () AS tneg
      FROM hist
    ),
    cand AS (
      SELECT (bucket + 1) * {_STUMP_BINW} AS threshold,
             cpos, cneg, tpos - cpos AS rpos, tneg - cneg AS rneg,
             tpos, tneg
      FROM cum WHERE cpos + cneg < tpos + tneg
    ),
    scored AS (
      SELECT threshold,
             CAST(cpos + cneg AS BIGINT) AS n_left,
             CAST(rpos + rneg AS BIGINT) AS n_right,
             CAST(cpos AS BIGINT) AS pos_left,
             CAST(rpos AS BIGINT) AS pos_right,
             (cpos + cneg) / (tpos + tneg)
               * (1.0 - (cpos / (cpos + cneg)) * (cpos / (cpos + cneg))
                      - (cneg / (cpos + cneg)) * (cneg / (cpos + cneg)))
             + (rpos + rneg) / (tpos + tneg)
               * (1.0 - (rpos / (rpos + rneg)) * (rpos / (rpos + rneg))
                      - (rneg / (rpos + rneg)) * (rneg / (rpos + rneg)))
               AS wg,
             1.0 - (tpos / (tpos + tneg)) * (tpos / (tpos + tneg))
                 - (tneg / (tpos + tneg)) * (tneg / (tpos + tneg)) AS pg
      FROM cand
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           n_left, n_right, pos_left, pos_right,
           ROUND(wg, 6) AS gini_split,
           ROUND(pg - wg, 6) AS gain,
           CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY wg, threshold) = 1
                THEN 1 ELSE 0 END AS INT) AS is_best
    FROM scored
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive best-split search for a depth-1 decision tree: every
    {_STUMP_BINW}-unit price boundary is scored as a candidate split of
    the `ml_auc_roc` signal-plus-noise label by weighted Gini impurity,
    reporting each candidate's class counts, split impurity, information
    gain, and an `is_best` argmin flag — the inner loop of every
    gradient-boosted-tree library (XGBoost/LightGBM grow trees from
    exactly this histogram-of-candidate-splits primitive; the histogram
    trick IS their scale story too).

    Everything after the first aggregate is rational arithmetic on
    exact integer-valued doubles — counts, their ratios, and Gini terms
    divide identical integers in both engines, so the argmin is
    bit-deterministic (ties broken by ascending threshold). ROUND at
    1e-6 is display-only.

    Scale: one O(rows) scan into a ~20-bucket histogram (mergeable,
    map-side combined), then cumulative + total windows over those
    O(buckets) rows — a sanctioned small global window (the `agg_ks_test`
    shape, see docs/SCALE.md); the raw table is never sorted. At 100 TB
    the histogram stays 20 rows; XGBoost's own distributed mode
    aggregates the same sketch."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        F.floor(F.col("o_totalprice") / _STUMP_BINW).cast("long").alias("bucket"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    hist = per.groupBy("bucket").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("double").alias("neg"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("pos").over(wc).alias("cpos"),
        F.sum("neg").over(wc).alias("cneg"),
        F.sum("pos").over(wt).alias("tpos"),
        F.sum("neg").over(wt).alias("tneg"),
    )
    cand = cum.filter(
        F.col("cpos") + F.col("cneg") < F.col("tpos") + F.col("tneg")
    ).select(
        ((F.col("bucket") + 1) * _STUMP_BINW).alias("threshold"),
        "cpos",
        "cneg",
        (F.col("tpos") - F.col("cpos")).alias("rpos"),
        (F.col("tneg") - F.col("cneg")).alias("rneg"),
        "tpos",
        "tneg",
    )

    def gini(p, n):
        tot = p + n
        return 1.0 - (p / tot) * (p / tot) - (n / tot) * (n / tot)

    nl = F.col("cpos") + F.col("cneg")
    nr = F.col("rpos") + F.col("rneg")
    n = F.col("tpos") + F.col("tneg")
    wg = (nl / n) * gini(F.col("cpos"), F.col("cneg")) + (nr / n) * gini(
        F.col("rpos"), F.col("rneg")
    )
    pg = gini(F.col("tpos"), F.col("tneg"))
    scored = cand.select(
        F.col("threshold").cast("long").alias("threshold"),
        nl.cast("long").alias("n_left"),
        nr.cast("long").alias("n_right"),
        F.col("cpos").cast("long").alias("pos_left"),
        F.col("rpos").cast("long").alias("pos_right"),
        wg.alias("wg"),
        pg.alias("pg"),
    )
    wr = Window.orderBy("wg", "threshold")
    return scored.select(
        "threshold",
        "n_left",
        "n_right",
        "pos_left",
        "pos_right",
        F.round("wg", 6).alias("gini_split"),
        F.round(F.col("pg") - F.col("wg"), 6).alias("gain"),
        F.when(F.row_number().over(wr) == 1, 1).otherwise(0).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes: train / holdout-classify / confusion (round 9)
# ---------------------------------------------------------------------------
_NB_LANGS = ("de", "en", "es", "fr", "zh")
_NB_SPLIT_MOD = 5  # md5(doc_id) % 5 == 0 -> 20% holdout

_NB_ORACLE = (
    """
    WITH d AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {mod} = 0 AS is_test,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tr_tok AS (
      SELECT lang, unnest(toks) AS tok FROM d WHERE NOT is_test
    ),
    cnt AS (SELECT lang, tok, COUNT(*) AS c FROM tr_tok GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_tok
            FROM tr_tok GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM tr_tok),
    ll AS (
      SELECT c.lang, c.tok,
             ROUND(LN((c.c + 1.0) / (t.n_tok + v.v)), 6) AS ll
      FROM cnt c JOIN tot t USING (lang) CROSS JOIN vocab v
    ),
    llp AS (
      SELECT tok, {ll_pivot}
      FROM ll GROUP BY tok
    ),
    un AS (
      SELECT {un_pivot}
      FROM tot t CROSS JOIN vocab v
    ),
    nd AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM d
           WHERE NOT is_test GROUP BY 1),
    pri AS (
      SELECT {pr_pivot}
      FROM nd CROSS JOIN (SELECT SUM(n) AS ntot FROM nd) s
    ),
    tf AS (
      SELECT doc_id, lang AS true_lang, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM d WHERE is_test)
      GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT tf.doc_id, tf.true_lang, tf.tok, tf.tf, {coalesce_cols}
      FROM tf LEFT JOIN llp USING (tok) CROSS JOIN un
    ),
    arrs AS (
      SELECT doc_id, true_lang,
             list(struct_pack(tok := tok, tf := tf, {pack_cols})
                  ORDER BY tok) AS lst
      FROM wide GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_id, true_lang, {score_cols}
      FROM arrs CROSS JOIN pri
    )
    SELECT true_lang, {pred_case} AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2
    """
)


def _nb_pred_case() -> str:
    # first class (ascending) whose score >= every later class's score —
    # mirrored exactly by the Spark when-chain below
    cases = []
    for i, k in enumerate(_NB_LANGS[:-1]):
        conds = " AND ".join(
            f"sc_{k} >= sc_{o}" for o in _NB_LANGS[i + 1 :]
        )
        cases.append(f"WHEN {conds} THEN '{k}'")
    return "CASE " + " ".join(cases) + f" ELSE '{_NB_LANGS[-1]}' END"


@register(
    "ml_naive_bayes",
    oracle=_NB_ORACLE.format(
        mod=_NB_SPLIT_MOD,
        ll_pivot=", ".join(
            f"MAX(CASE WHEN lang = '{k}' THEN ll END) AS ll_{k}" for k in _NB_LANGS
        ),
        un_pivot=", ".join(
            f"MAX(CASE WHEN t.lang = '{k}' THEN ROUND(LN(1.0 / (t.n_tok + v.v)), 6)"
            f" END) AS un_{k}"
            for k in _NB_LANGS
        ),
        pr_pivot=", ".join(
            f"MAX(CASE WHEN lang = '{k}' THEN ROUND(LN(n / ntot), 6) END) AS pr_{k}"
            for k in _NB_LANGS
        ),
        coalesce_cols=", ".join(
            f"COALESCE(llp.ll_{k}, un.un_{k}) AS e_{k}" for k in _NB_LANGS
        ),
        pack_cols=", ".join(f"e_{k} := e_{k}" for k in _NB_LANGS),
        score_cols=", ".join(
            f"pri.pr_{k} + list_reduce(list_prepend(0.0,"
            f" list_transform(lst, s -> s.tf * s.e_{k})), (a, b) -> a + b) AS sc_{k}"
            for k in _NB_LANGS
        ),
        pred_case=_nb_pred_case(),
    ),
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes text classifier, trained and evaluated
    entirely in relational algebra: Laplace-smoothed per-class token
    log-likelihoods from an 80% md5-deterministic training split, then
    holdout classification of the 20% test docs and the resulting
    confusion matrix (true lang x predicted lang x count). The fixture's
    `lang` label is INDEPENDENT of its shared word-salad vocabulary, so
    this is a true-null classifier (the `events_granger` convention):
    the trained model mostly predicts the majority prior (`en`), and the
    confusion matrix shows exactly that — the machinery (smoothing,
    priors, argmax, holdout hygiene) is what the oracle pins.

    Determinism: log-likelihoods and priors are quantized (ROUND 1e-6)
    at train time, and each document's class score is a SEQUENTIAL fold
    over its token structs in ascending token order (Spark `aggregate`,
    DuckDB `list_reduce` with a scalar accumulator — the
    events_haar_wavelet discipline), so scores are bit-identical across
    engines and the argmax (ties broken by ascending class name, the
    `text_langid` when-chain) can never flip.

    Scale: training is two token-level partial aggregates (the
    text_tfidf shape); the model is an O(V x C) table that joins the
    holdout's (doc, token) pairs on token — broadcast here, sort-merge
    at real vocabulary sizes; the per-doc fold is an in-row array
    lambda. Nothing ever sorts or collects the corpus."""
    d = load(spark, sf_dir, "documents")
    is_test = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _NB_SPLIT_MOD
        == 0
    )
    toks = d.select(
        "doc_id",
        "lang",
        is_test.alias("is_test"),
        F.explode(F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias(
            "tok"
        ),
    )
    tr = toks.filter(~F.col("is_test"))
    cnt = tr.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tr.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n_tok"))
    vocab = tr.agg(F.countDistinct("tok").cast("double").alias("v"))
    ll = (
        cnt.join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "tok",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("n_tok") + F.col("v"))), 6
            ).alias("ll"),
        )
    )
    llp = ll.groupBy("tok").agg(
        *[
            F.max(F.when(F.col("lang") == k, F.col("ll"))).alias(f"ll_{k}")
            for k in _NB_LANGS
        ]
    )
    un = tot.crossJoin(F.broadcast(vocab)).agg(
        *[
            F.max(
                F.when(
                    F.col("lang") == k,
                    F.round(F.log(1.0 / (F.col("n_tok") + F.col("v"))), 6),
                )
            ).alias(f"un_{k}")
            for k in _NB_LANGS
        ]
    )
    nd = (
        d.filter(~is_test)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    pri = nd.crossJoin(F.broadcast(nd.agg(F.sum("n").alias("ntot")))).agg(
        *[
            F.max(
                F.when(F.col("lang") == k, F.round(F.log(F.col("n") / F.col("ntot")), 6))
            ).alias(f"pr_{k}")
            for k in _NB_LANGS
        ]
    )
    tf = (
        toks.filter("is_test")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    wide = (
        tf.join(llp, "tok", "left")
        .crossJoin(F.broadcast(un))
        .select(
            "doc_id",
            "true_lang",
            "tok",
            "tf",
            *[
                F.coalesce(F.col(f"ll_{k}"), F.col(f"un_{k}")).alias(f"e_{k}")
                for k in _NB_LANGS
            ],
        )
    )
    arrs = wide.groupBy("doc_id", "true_lang").agg(
        F.array_sort(
            F.collect_list(
                F.struct("tok", "tf", *[f"e_{k}" for k in _NB_LANGS])
            )
        ).alias("lst")
    )
    def class_fold(k: str):
        # a factory so the fold lambda keeps exactly 2 parameters (PySpark
        # derives the higher-order function's arity from the signature)
        return lambda a, s: a + s["tf"] * s[f"e_{k}"]

    scored = arrs.crossJoin(F.broadcast(pri)).select(
        "doc_id",
        "true_lang",
        *[
            (F.col(f"pr_{k}") + F.aggregate(F.col("lst"), F.lit(0.0), class_fold(k)))
            .alias(f"sc_{k}")
            for k in _NB_LANGS
        ],
    )
    pred = F.lit(_NB_LANGS[-1])
    for i in range(len(_NB_LANGS) - 2, -1, -1):
        k = _NB_LANGS[i]
        cond = None
        for o in _NB_LANGS[i + 1 :]:
            c = F.col(f"sc_{k}") >= F.col(f"sc_{o}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(k)).otherwise(pred)
    return scored.groupBy("true_lang", pred.alias("pred_lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# k-nearest-neighbour classification over embeddings (round 9)
# ---------------------------------------------------------------------------
_KNN_K = 5
_KNN_CLASSES = 10
_KNN_PROTO_MOD = 2001  # prototype coords in [-1, 1] at 1e-3 resolution


def _knn_oracle() -> str:
    return f"""
    WITH protos AS (
      SELECT c.c AS cls, j.j AS dim,
             (CAST(concat('0x', substr(md5(CAST(c.c AS VARCHAR) || '#'
                                       || CAST(j.j AS VARCHAR)), 1, 15))
                   AS BIGINT) % {_KNN_PROTO_MOD} - 1000) / 1000.0 AS pv
      FROM (SELECT unnest(range(0, {_KNN_CLASSES})) AS c) c
      CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
    ),
    dots AS (
      SELECT e.vec_id, p.cls,
             ROUND(SUM(e.embedding[p.dim + 1] * p.pv), 6) AS dot
      FROM embeddings e JOIN protos p ON TRUE
      GROUP BY 1, 2
    ),
    lab AS (
      SELECT vec_id, cls AS lab
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dot DESC, cls) AS rk
            FROM dots) t
      WHERE rk = 1
    ),
    base AS (
      SELECT e.vec_id, e.embedding, l.lab,
             CAST(concat('0x', substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10 = 0 AS is_test
      FROM embeddings e JOIN lab l USING (vec_id)
    ),
    pairs AS (
      SELECT t.vec_id AS tid, t.lab AS true_lab,
             r.vec_id AS rid, r.lab AS nbr_lab,
             list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, 64),
                 i -> t.embedding[i] * r.embedding[i])), (a, b) -> a + b)
             / sqrt(list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 64),
                   i -> t.embedding[i] * t.embedding[i])), (a, b) -> a + b))
             / sqrt(list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 64),
                   i -> r.embedding[i] * r.embedding[i])), (a, b) -> a + b))
               AS cos
      FROM base t JOIN base r ON t.is_test AND NOT r.is_test
    ),
    nbrs AS (
      SELECT tid, true_lab, nbr_lab
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
                                         ORDER BY cos DESC, rid) AS rk
            FROM pairs) t
      WHERE rk <= {_KNN_K}
    ),
    votes AS (
      SELECT tid, true_lab, nbr_lab AS pred_lab,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM nbrs GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT tid, true_lab, pred_lab
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
                                         ORDER BY v DESC, pred_lab) AS rk
            FROM votes) t
      WHERE rk = 1
    )
    SELECT CAST(true_lab AS INT) AS true_lab,
           CAST(pred_lab AS INT) AS pred_lab,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """


@register("ml_knn_classify", oracle=_knn_oracle())
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KNN_K}-nearest-neighbour classification over the embedding
    column: exact cosine kNN of a 10% md5 holdout against the 90%
    training split, majority vote, confusion matrix out. The fixture's
    `label` column is independent of the vectors (measured kNN accuracy
    0.106 — chance), so the ground truth is CONSTRUCTED from the vectors
    themselves (the `ml_auc_roc` convention): label = argmax over
    {_KNN_CLASSES} md5-derived random prototype directions of <x, p_c> —
    a Voronoi partition of the sphere that kNN genuinely recovers
    (measured accuracy 0.26 at sf0.001 — 2.6x the 10-class chance floor,
    vs exactly-chance 0.106 on the raw label), so the estimator is
    exercised against real signal.

    Determinism: prototype dots ROUND(6) before the argmax (the
    per-class sums shuffle-fold); every cosine is an in-row sequential
    fold over the two arrays (bit-identical across engines), so the
    neighbour ranking needs no rounding; vote ties break by smaller
    label, rank ties by train vec_id.

    Scale: the test side is broadcast into a nested-loop cosine join —
    the documented brute-force baseline (sim_topk_bruteforce's role);
    at corpus scale the shortlist comes from the registered ANN family
    (LSH / IVF / PQ) and only the vote changes. Train-side scan stays
    pruned to (vec_id, embedding, lab)."""
    e = load(spark, sf_dir, "embeddings")
    protos = (
        spark.range(_KNN_CLASSES)
        .select(F.col("id").cast("int").alias("cls"))
        .crossJoin(spark.range(64).select(F.col("id").cast("int").alias("dim")))
        .select(
            "cls",
            "dim",
            (
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "",
                                    F.col("cls").cast("string"),
                                    F.lit("#"),
                                    F.col("dim").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _KNN_PROTO_MOD
                    - 1000
                )
                / 1000.0
            ).alias("pv"),
        )
    )
    dots = (
        e.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .join(F.broadcast(protos), "dim")
        .groupBy("vec_id", "cls")
        .agg(F.round(F.sum(F.col("x") * F.col("pv")), 6).alias("dot"))
    )
    # argmax(dot) with smaller-cls tiebreak as a partial-aggregable
    # max(struct(dot, -cls)) instead of a row_number sort window — the
    # window shuffled and fully sorted all N x classes rows; the struct
    # max combines map-side to one row per vec_id per partition (r14
    # optimization round, guide §2: partial/map-side aggregation). dot is
    # ROUND(6) so the comparison is the same deterministic one the window
    # made. The (vec_id, lab) frame is consumed by BOTH sides of the
    # test x train cross join below, so it is checkpointed once — uncut,
    # the explode + proto join + two aggregates ran twice.
    lab = (
        dots.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("dot"), (-F.col("cls")).alias("nc"))).alias("m"))
        .select("vec_id", (-F.col("m.nc")).cast("int").alias("lab"))
        .localCheckpoint(eager=True)
    )
    base = e.join(lab, "vec_id").select(
        "vec_id",
        "embedding",
        "lab",
        (
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 10
            == 0
        ).alias("is_test"),
    )
    def fold_dot(xa, xb):
        return F.aggregate(
            F.zip_with(xa, xb, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
        )

    # Self-norms hoisted OUT of the pair expression (r14 optimization
    # round): cos was dot(te,re)/sqrt(dot(te,te))/sqrt(dot(re,re)) with
    # all three zip_with+fold subtrees evaluated PER PAIR — at sf0.1
    # that is 360k pairs x 3 folds x 64 dims in the higher-order-function
    # interpreter, two of which depend on one row only. Precomputing
    # sqrt(dot(x,x)) per row keeps the identical op sequence (the same
    # doubles divided in the same order — bit-identical cos, so the
    # neighbour ranking cannot move) while cutting per-pair work 3x.
    t = base.filter("is_test").select(
        F.col("vec_id").alias("tid"),
        F.col("embedding").alias("te"),
        F.col("lab").alias("true_lab"),
        F.sqrt(fold_dot(F.col("embedding"), F.col("embedding"))).alias("tn"),
    )
    r = base.filter("NOT is_test").select(
        F.col("vec_id").alias("rid"),
        F.col("embedding").alias("re"),
        F.col("lab").alias("nbr_lab"),
        F.sqrt(fold_dot(F.col("embedding"), F.col("embedding"))).alias("rn"),
    )

    cos = fold_dot(F.col("te"), F.col("re")) / F.col("tn") / F.col("rn")
    pairs = F.broadcast(t).crossJoin(r).select(
        "tid", "true_lab", "rid", "nbr_lab", cos.alias("cos")
    )
    wn = Window.partitionBy("tid").orderBy(F.col("cos").desc(), "rid")
    nbrs = (
        pairs.withColumn("rk", F.row_number().over(wn))
        .filter(F.col("rk") <= _KNN_K)
        .select("tid", "true_lab", "nbr_lab")
    )
    votes = nbrs.groupBy("tid", "true_lab", F.col("nbr_lab").alias("pred_lab")).agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = Window.partitionBy("tid").orderBy(F.col("v").desc(), "pred_lab")
    pred = (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("tid", "true_lab", "pred_lab")
    )
    return pred.groupBy(
        F.col("true_lab").cast("int").alias("true_lab"),
        F.col("pred_lab").cast("int").alias("pred_lab"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Closed-form ridge regression with standardized importances (round 9)
# ---------------------------------------------------------------------------
_RIDGE_LAMBDA = 1.0  # on the standardized scale


@register(
    "ml_ridge_regression",
    oracle=f"""
    WITH per AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS DOUBLE) AS x1,
             CAST(SUM(l_quantity) AS DOUBLE) AS x2,
             CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(x1) AS m1, AVG(x2) AS m2, AVG(y) AS my,
             SUM(x1 * x1) AS s11r, SUM(x2 * x2) AS s22r,
             SUM(x1 * x2) AS s12r, SUM(x1 * y) AS s1yr,
             SUM(x2 * y) AS s2yr, SUM(y * y) AS syyr
      FROM per
    ),
    c AS (
      SELECT n, m1, m2, my,
             (s11r - n * m1 * m1) / n AS v11,
             (s22r - n * m2 * m2) / n AS v22,
             (s12r - n * m1 * m2) / n AS v12,
             (s1yr - n * m1 * my) / n AS v1y,
             (s2yr - n * m2 * my) / n AS v2y,
             (syyr - n * my * my) / n AS vyy
      FROM m
    ),
    z AS (
      -- standardized design: correlations + scaled targets
      SELECT n, m1, m2, my, v11, v22, vyy,
             v12 / sqrt(v11 * v22) AS r12,
             v1y / sqrt(v11) AS z1y,
             v2y / sqrt(v22) AS z2y
      FROM c
    ),
    beta AS (
      SELECT n, m1, m2, my, v11, v22, vyy, r12, z1y, z2y,
             ((1 + {_RIDGE_LAMBDA} / n) * z1y - r12 * z2y)
               / ((1 + {_RIDGE_LAMBDA} / n) * (1 + {_RIDGE_LAMBDA} / n)
                  - r12 * r12) AS b1s,
             ((1 + {_RIDGE_LAMBDA} / n) * z2y - r12 * z1y)
               / ((1 + {_RIDGE_LAMBDA} / n) * (1 + {_RIDGE_LAMBDA} / n)
                  - r12 * r12) AS b2s
      FROM z
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(b1s / sqrt(v11), 4) AS beta_lines,
           ROUND(b2s / sqrt(v22), 4) AS beta_qty,
           ROUND(my - b1s / sqrt(v11) * m1 - b2s / sqrt(v22) * m2, 4)
             AS intercept,
           ROUND((2 * (b1s * z1y + b2s * z2y)
                  - (b1s * b1s + b2s * b2s + 2 * b1s * b2s * r12)) / vyy, 6)
             AS r2,
           ROUND(ABS(b1s) / (ABS(b1s) + ABS(b2s)), 6) AS importance_lines,
           ROUND(ABS(b2s) / (ABS(b1s) + ABS(b2s)), 6) AS importance_qty
    FROM beta
    """,
)
def ml_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression solved in CLOSED FORM from one pass
    of sufficient statistics: per-order revenue regressed on line count
    and total quantity (a REAL relationship in the fixture — revenue is
    literally a sum over lines, while quantity's PARTIAL effect is ~0
    because fixture prices are independent of quantity: the regression
    separates the two, which is the point of multivariate fitting),
    standardized, with the 2x2 normal equations (X'X/n + lambda/n I)
    inverted symbolically. Reports
    coefficients on the original scale, intercept, R^2, and the
    standardized-|beta| importance shares — the "which feature drives
    the prediction" summary (linear-SHAP's global aggregate). This is
    how distributed ML libraries actually fit small-d linear models: a
    mergeable moment aggregate, then O(d^3) driver-free algebra — here
    the algebra stays IN the plan as a 1-row projection.

    Both engines compute identical moment sums up to fold order;
    every downstream quantity is a smooth ratio of those sums, so
    ROUND(6/4) absorbs the ulp noise (the agg_linreg convention, which
    this operator generalizes from one regressor to a regularized two).

    Scale: one partial-aggregating groupBy(order) then a 1-row global
    aggregate — two shuffles total, constant memory, any d just widens
    the moment vector to d(d+3)/2 sums."""
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("x1"),
        F.sum("l_quantity").cast("double").alias("x2"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .alias("y"),
    )
    m = per.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("y").alias("my"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11r"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22r"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12r"),
        F.sum(F.col("x1") * F.col("y")).alias("s1yr"),
        F.sum(F.col("x2") * F.col("y")).alias("s2yr"),
        F.sum(F.col("y") * F.col("y")).alias("syyr"),
    )
    c = m.select(
        "n",
        "m1",
        "m2",
        "my",
        ((F.col("s11r") - F.col("n") * F.col("m1") * F.col("m1")) / F.col("n")).alias("v11"),
        ((F.col("s22r") - F.col("n") * F.col("m2") * F.col("m2")) / F.col("n")).alias("v22"),
        ((F.col("s12r") - F.col("n") * F.col("m1") * F.col("m2")) / F.col("n")).alias("v12"),
        ((F.col("s1yr") - F.col("n") * F.col("m1") * F.col("my")) / F.col("n")).alias("v1y"),
        ((F.col("s2yr") - F.col("n") * F.col("m2") * F.col("my")) / F.col("n")).alias("v2y"),
        ((F.col("syyr") - F.col("n") * F.col("my") * F.col("my")) / F.col("n")).alias("vyy"),
    )
    z = c.select(
        "n",
        "m1",
        "m2",
        "my",
        "v11",
        "v22",
        "vyy",
        (F.col("v12") / F.sqrt(F.col("v11") * F.col("v22"))).alias("r12"),
        (F.col("v1y") / F.sqrt(F.col("v11"))).alias("z1y"),
        (F.col("v2y") / F.sqrt(F.col("v22"))).alias("z2y"),
    )
    d = (1 + _RIDGE_LAMBDA / F.col("n")) * (1 + _RIDGE_LAMBDA / F.col("n")) - F.col(
        "r12"
    ) * F.col("r12")
    beta = z.select(
        "n",
        "m1",
        "m2",
        "my",
        "v11",
        "v22",
        "vyy",
        "r12",
        "z1y",
        "z2y",
        (((1 + _RIDGE_LAMBDA / F.col("n")) * F.col("z1y") - F.col("r12") * F.col("z2y")) / d).alias("b1s"),
        (((1 + _RIDGE_LAMBDA / F.col("n")) * F.col("z2y") - F.col("r12") * F.col("z1y")) / d).alias("b2s"),
    )
    b1 = F.col("b1s") / F.sqrt(F.col("v11"))
    b2 = F.col("b2s") / F.sqrt(F.col("v22"))
    absum = F.abs(F.col("b1s")) + F.abs(F.col("b2s"))
    # betas are money-scale (~5e4): 4dp keeps 8-9 significant digits, which
    # is already above fold-order double noise at sf0.1 row counts — 6dp hit
    # a rounding boundary in the r10 deep sweep (…638838 vs …638839)
    return beta.select(
        F.col("n").cast("long").alias("n"),
        F.round(b1, 4).alias("beta_lines"),
        F.round(b2, 4).alias("beta_qty"),
        F.round(F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 4).alias("intercept"),
        F.round(
            (
                2 * (F.col("b1s") * F.col("z1y") + F.col("b2s") * F.col("z2y"))
                - (
                    F.col("b1s") * F.col("b1s")
                    + F.col("b2s") * F.col("b2s")
                    + 2 * F.col("b1s") * F.col("b2s") * F.col("r12")
                )
            )
            / F.col("vyy"),
            6,
        ).alias("r2"),
        F.round(F.abs(F.col("b1s")) / absum, 6).alias("importance_lines"),
        F.round(F.abs(F.col("b2s")) / absum, 6).alias("importance_qty"),
    )


# ---------------------------------------------------------------------------
# Normal QQ diagnostic + Ryan-Joiner statistic (round 9)
# ---------------------------------------------------------------------------
def _norm_inv(p: float) -> float:
    """Inverse standard-normal CDF by bisection on erf — used only at
    MODULE IMPORT to bake the probability grid into literal constants
    that both engines receive as identical text (the agg_fdr_bh
    shared-constant convention, without needing the approximation
    in-engine at all)."""
    import math

    lo, hi = -10.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if 0.5 * (1 + math.erf(mid / math.sqrt(2))) < p:
            lo = mid
        else:
            hi = mid
    # + 0.0 normalizes IEEE negative zero (p = 0.5 bisects to -0.0, which
    # Spark's literal keeps signed while DuckDB's doesn't — hash mismatch)
    return round((lo + hi) / 2, 12) + 0.0


_QQ_PS = tuple(round(0.05 * i, 2) for i in range(1, 20))
_QQ_Z = tuple(_norm_inv(p) for p in _QQ_PS)
# the two diagnosed series: per-order revenue (a sum of ~4 uniform lines ->
# Irwin-Hall, NEAR-normal) and the raw line price (uniform -> decisively
# non-normal), so the diagnostic shows both verdicts on real data
_QQ_VARS_SQL = """
      SELECT 'order_revenue' AS variable, v FROM (
        SELECT SUM(l_extendedprice * (1 - l_discount)) AS v
        FROM lineitem GROUP BY l_orderkey)
      UNION ALL
      SELECT 'line_price' AS variable, l_extendedprice AS v FROM lineitem
"""


@register(
    "agg_qq_normal",
    oracle=f"""
    WITH vals AS ({_QQ_VARS_SQL}),
    m AS (
      SELECT variable, AVG(v) AS mu, STDDEV_SAMP(v) AS sd
      FROM vals GROUP BY 1
    ),
    grid AS (
      SELECT * FROM (VALUES (0, 0.05, -1.644853626951), (1, 0.1, -1.281551565545), (2, 0.15, -1.036433389494), (3, 0.2, -0.841621233573), (4, 0.25, -0.674489750196), (5, 0.3, -0.524400512708), (6, 0.35, -0.385320466408), (7, 0.4, -0.253347103136), (8, 0.45, -0.125661346855), (9, 0.5, 0.0), (10, 0.55, 0.125661346855), (11, 0.6, 0.253347103136), (12, 0.65, 0.385320466408), (13, 0.7, 0.524400512708), (14, 0.75, 0.674489750196), (15, 0.8, 0.841621233573), (16, 0.85, 1.036433389494), (17, 0.9, 1.281551565545), (18, 0.95, 1.644853626951))
        AS t(idx, p, z)
    ),
    qarr AS (
      SELECT variable, quantile_cont(v, [0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95]) AS qa
      FROM vals GROUP BY 1
    ),
    qs AS (
      SELECT a.variable, g.p, g.z, a.qa[g.idx + 1] AS q_obs
      FROM qarr a CROSS JOIN grid g
    ),
    qq AS (
      SELECT qs.variable, CAST(qs.p AS DOUBLE) AS p,
             CAST(qs.z AS DOUBLE) AS z_theoretical,
             qs.q_obs, m.mu + m.sd * qs.z AS fitted
      FROM qs JOIN m USING (variable)
    ),
    rj AS (
      SELECT variable, corr(q_obs, z_theoretical) AS r FROM qq GROUP BY 1
    )
    SELECT qq.variable, qq.p, qq.z_theoretical,
           ROUND(qq.q_obs, 4) AS q_observed,
           ROUND(qq.fitted, 4) AS fitted,
           ROUND(qq.q_obs - qq.fitted, 4) AS deviation,
           ROUND(rj.r, 6) AS rj_stat
    FROM qq JOIN rj USING (variable)
    """,
)
def agg_qq_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal quantile-quantile diagnostic with the Ryan-Joiner normality
    statistic: 19 probability points (0.05..0.95), each pairing the
    empirical quantile against the normal fit mu + sigma * z_p, plus the
    correlation between observed quantiles and normal scores (Ryan-Joiner
    1976 — the probability-plot correlation test; ~1 means normal). Run
    on two series at once so BOTH verdicts appear on real data: per-order
    revenue (a sum of ~4 uniform line amounts — Irwin-Hall, near-normal,
    RJ ~0.99) and the raw line price (uniform — flat tails, visibly bent
    QQ, lower RJ). The z_p grid is baked as literal constants computed
    once by bisection on erf at module import, so neither engine ever
    runs an inverse-CDF approximation (the agg_fdr_bh shared-text
    convention, strengthened).

    Exact percentiles and sample moments follow the module's established
    cross-engine mappings; ROUND(4/6) absorbs fold-order ulp.

    Scale: one scan into a per-order partial agg, one exact-percentile
    aggregate over the union (swap approx_percentile at 100 TB), output
    O(vars x 19). The RJ correlation runs over 19 rows."""
    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"))
        .select(F.lit("order_revenue").alias("variable"), "v")
    )
    raw = li.select(F.lit("line_price").alias("variable"), F.col("l_extendedprice").alias("v"))
    vals = rev.unionByName(raw)
    # One combined aggregate per variable (moments + the full percentile
    # array) instead of separate m/qarr aggregates, and the Ryan-Joiner
    # correlation as a WINDOW aggregate over the exploded 19-point grid
    # instead of a groupBy + join back — the r13 plan recomputed the
    # lineitem scan + union + aggregate lineage ~4x (m, qarr, and both
    # sides of the rj self-join); this shape scans lineitem exactly twice
    # (once per union leg, irreducible) and everything after the aggregate
    # is O(vars x 19) rows (r14 optimization round). corr over an
    # unbounded window partition equals groupBy corr exactly — same
    # Pearson aggregate, same inputs, same fold.
    stats = vals.groupBy("variable").agg(
        F.avg("v").alias("mu"),
        F.stddev_samp("v").alias("sd"),
        F.percentile("v", F.array(*[F.lit(p) for p in _QQ_PS])).alias("qarr"),
    )
    grid = spark.sql(
        "SELECT col1 AS idx, col2 AS p, col3 AS z FROM (VALUES "
        + ", ".join(
            f"({i}, {p}D, {z}D)" for i, (p, z) in enumerate(zip(_QQ_PS, _QQ_Z))
        )
        + ")"
    )
    qq = (
        stats.select("variable", "mu", "sd", F.posexplode("qarr").alias("idx", "q_obs"))
        .join(F.broadcast(grid), "idx")
        .select(
            "variable",
            F.col("p").cast("double").alias("p"),
            F.col("z").cast("double").alias("z_theoretical"),
            "q_obs",
            (F.col("mu") + F.col("sd") * F.col("z")).alias("fitted"),
        )
    )
    w_var = Window.partitionBy("variable")
    return qq.select(
        "variable",
        "p",
        "z_theoretical",
        F.round("q_obs", 4).alias("q_observed"),
        F.round("fitted", 4).alias("fitted"),
        F.round(F.col("q_obs") - F.col("fitted"), 4).alias("deviation"),
        F.round(F.corr("q_obs", "z_theoretical").over(w_var), 6).alias("rj_stat"),
    )


# ---------------------------------------------------------------------------
# Experiment power / minimum-detectable-effect calculator (round 9)
# ---------------------------------------------------------------------------
_PWR_Z_ALPHA = _norm_inv(0.975)  # two-sided alpha = 0.05
_PWR_Z_BETA = _norm_inv(0.8)  # power = 0.8
_PWR_TARGET_LIFT = 0.01  # sample size quoted for a 1% relative lift


@register(
    "ml_experiment_power",
    oracle=f"""
    WITH per AS (
      SELECT c.c_mktsegment, o.o_totalprice
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(o_totalprice) AS mu,
             VAR_SAMP(o_totalprice) AS v
      FROM per GROUP BY 1
    )
    SELECT c_mktsegment,
           CAST(n AS BIGINT) AS n,
           ROUND(mu, 4) AS mean_value,
           ROUND(({_PWR_Z_ALPHA} + {_PWR_Z_BETA}) * sqrt(2 * v / (n / 2)), 4)
             AS mde_abs,
           ROUND(({_PWR_Z_ALPHA} + {_PWR_Z_BETA}) * sqrt(2 * v / (n / 2)) / mu, 6)
             AS mde_rel,
           CAST(CEIL(2 * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                       * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA}) * v
                     / (({_PWR_TARGET_LIFT} * mu) * ({_PWR_TARGET_LIFT} * mu)))
                AS BIGINT) AS n_per_arm_for_1pct
    FROM m
    """,
)
def ml_experiment_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power calculator — the pre-registration table every A/B
    platform renders before launch: per segment, the minimum detectable
    effect on order value at alpha=0.05 (two-sided) / power=0.8 given the
    CURRENT traffic split in half, and the per-arm sample size a
    {_PWR_TARGET_LIFT:.0%} relative lift would require (the standard
    two-sample normal-approximation formulas: MDE = (z_a + z_b) *
    sqrt(2 s^2 / n_arm); n_arm = 2 (z_a+z_b)^2 s^2 / delta^2). Completes
    the experimentation suite (Welch / CUPED / SPRT / paired-t measure
    effects; this operator says what's MEASURABLE). z constants are baked
    literals from the module's bisection inverse-normal — identical text
    in both engines.

    One mergeable moment aggregate over the star join; every output is a
    smooth function of (n, mean, variance), ROUND display-only.

    Scale: broadcast dim join + one groupBy — the join_star_q5 budget."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("o_totalprice").alias("mu"),
            F.var_samp("o_totalprice").alias("v"),
        )
    )
    zsum = _PWR_Z_ALPHA + _PWR_Z_BETA
    mde = zsum * F.sqrt(2 * F.col("v") / (F.col("n") / 2))
    return m.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.round("mu", 4).alias("mean_value"),
        F.round(mde, 4).alias("mde_abs"),
        F.round(mde / F.col("mu"), 6).alias("mde_rel"),
        F.ceil(
            2
            * zsum
            * zsum
            * F.col("v")
            / ((_PWR_TARGET_LIFT * F.col("mu")) * (_PWR_TARGET_LIFT * F.col("mu")))
        )
        .cast("long")
        .alias("n_per_arm_for_1pct"),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test (round 9)
# ---------------------------------------------------------------------------
_PZ_CRIT = 1.95996398454  # two-sided 5% critical value (module bisection)
_PZ_BOOST_MOD = 10  # constructed lift: +1/10 conversion odds for arm 1


@register(
    "ml_proportion_ztest",
    oracle=f"""
    WITH users AS (
      -- unit = active user-day (every user purchases eventually, so the
      -- per-user rate is degenerate 1.0; the daily grain gives a real
      -- ~0.4 conversion rate with both tails populated)
      SELECT user_id,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || '#' ||
                                          CAST(datediff('day', DATE '2024-01-01',
                                               CAST(ts AS DATE)) AS VARCHAR)
                                          || '#boost'),
                                      1, 15)) AS BIGINT) % {_PZ_BOOST_MOD} = 0
               AS boosted
      FROM events GROUP BY 1, 2, 3
    ),
    scen AS (
      SELECT 'null_split' AS scenario, arm, CAST(conv AS INT) AS conv FROM users
      UNION ALL
      SELECT 'constructed_lift', arm,
             CASE WHEN arm = 1 AND boosted THEN 1 ELSE conv END
      FROM users
    ),
    agg AS (
      SELECT scenario,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS DOUBLE) AS c0,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS DOUBLE) AS c1
      FROM scen GROUP BY 1
    ),
    stats AS (
      SELECT scenario, n0, n1, c0, c1,
             c0 / n0 AS p0, c1 / n1 AS p1,
             (c0 + c1) / (n0 + n1) AS pp,
             sqrt(c0 / n0 * (1 - c0 / n0) / n0
                  + c1 / n1 * (1 - c1 / n1) / n1) AS se_unpooled
      FROM agg
    )
    SELECT scenario,
           CAST(n0 AS BIGINT) AS n_control,
           CAST(n1 AS BIGINT) AS n_treat,
           ROUND(p0, 6) AS rate_control,
           ROUND(p1, 6) AS rate_treat,
           ROUND(p1 - p0, 6) AS diff,
           ROUND((p1 - p0) / sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1)), 4) AS z,
           ROUND(p1 - p0 - {_PZ_CRIT} * se_unpooled, 6) AS ci_lo,
           ROUND(p1 - p0 + {_PZ_CRIT} * se_unpooled, 6) AS ci_hi,
           ABS((p1 - p0) / sqrt(pp * (1 - pp) * (1 / n0 + 1 / n1)))
             > {_PZ_CRIT} AS significant
    FROM stats
    """,
)
def ml_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the single most common A/B readout
    (conversion-rate difference with pooled-variance z and an unpooled
    Wald CI): users md5-split into two arms; the analysis unit is the
    ACTIVE USER-DAY with conversion = purchased that day (~0.4 rate —
    per-user lifetime conversion is degenerate 1.0 in the fixture, which
    would zero the pooled variance). Two scenarios share one scan so BOTH decision branches
    are real: the honest `null_split` (arms random — diff ~0, not
    significant) and a `constructed_lift` where arm 1 gains a
    deterministic +1/{_PZ_BOOST_MOD} conversion odds (the `ml_auc_roc`
    constructed-signal convention — significant). Completes the
    experimentation suite for binary metrics (Welch covers means, SPRT
    the sequential monitor, power the pre-registration).

    Counts are exact integers; every statistic divides identical
    integers; the z critical value is the module's baked bisection
    constant — identical text in both engines.

    Scale: one partial-aggregating groupBy(user) then a 4-counter
    mergeable aggregate per scenario — the cheapest possible experiment
    readout at any volume."""
    ev = load(spark, sf_dir, "events")
    h = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")  # noqa: E731
    d = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    users = (
        ev.groupBy(
            "user_id",
            d.alias("d"),
            (h(F.col("user_id").cast("string")) % 2).alias("arm"),
        )
        .agg(F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"))
        .select(
            "user_id",
            "arm",
            "conv",
            (
                h(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("d").cast("string"),
                        F.lit("#boost"),
                    )
                )
                % _PZ_BOOST_MOD
                == 0
            ).alias("boosted"),
        )
    )
    null_s = users.select(
        F.lit("null_split").alias("scenario"), "arm", F.col("conv").cast("int").alias("conv")
    )
    lift_s = users.select(
        F.lit("constructed_lift").alias("scenario"),
        "arm",
        F.when((F.col("arm") == 1) & F.col("boosted"), 1)
        .otherwise(F.col("conv"))
        .cast("int")
        .alias("conv"),
    )
    agg = (
        null_s.unionByName(lift_s)
        .groupBy("scenario")
        .agg(
            F.sum((F.col("arm") == 0).cast("int")).cast("double").alias("n0"),
            F.sum((F.col("arm") == 1).cast("int")).cast("double").alias("n1"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("double")
            .alias("c0"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("double")
            .alias("c1"),
        )
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se_u = F.sqrt(p0 * (1 - p0) / F.col("n0") + p1 * (1 - p1) / F.col("n1"))
    z = (p1 - p0) / F.sqrt(pp * (1 - pp) * (1 / F.col("n0") + 1 / F.col("n1")))
    return agg.select(
        "scenario",
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treat"),
        F.round(p1 - p0, 6).alias("diff"),
        F.round(z, 4).alias("z"),
        F.round(p1 - p0 - _PZ_CRIT * se_u, 6).alias("ci_lo"),
        F.round(p1 - p0 + _PZ_CRIT * se_u, 6).alias("ci_hi"),
        (F.abs(z) > _PZ_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Gaussian-mixture EM (2 components, histogram E/M, 3 rounds) — round 9
# ---------------------------------------------------------------------------
_EM_BINW = 10_000
_EM_SHIFT = 500_000  # constructed bimodality: +500k for half the orders
_EM_ROUNDS = 3
_EM_INIT = (0.5, 200_000.0, 200_000.0, 0.5, 800_000.0, 200_000.0)


def _em_oracle() -> str:
    # one E+M round as a pair of chained CTEs; params quantized (ROUND 6/9)
    # after every M-step so fold-order ulp can't compound across rounds
    step = """
    e{b} AS (
      SELECT h.x, h.n,
             p.w1 * exp(-(h.x - p.m1) * (h.x - p.m1) / (2 * p.s1 * p.s1)) / p.s1
               AS u1,
             p.w2 * exp(-(h.x - p.m2) * (h.x - p.m2) / (2 * p.s2 * p.s2)) / p.s2
               AS u2
      FROM hist h CROSS JOIN p{a} p
    ),
    p{b} AS (
      SELECT ROUND(SUM(n * u1 / (u1 + u2)) / SUM(n), 9) AS w1,
             ROUND(SUM(n * u1 / (u1 + u2) * x)
                   / SUM(n * u1 / (u1 + u2)), 6) AS m1,
             ROUND(sqrt(SUM(n * u1 / (u1 + u2) * x * x)
                        / SUM(n * u1 / (u1 + u2))
                        - (SUM(n * u1 / (u1 + u2) * x)
                           / SUM(n * u1 / (u1 + u2)))
                          * (SUM(n * u1 / (u1 + u2) * x)
                             / SUM(n * u1 / (u1 + u2)))), 6) AS s1,
             ROUND(SUM(n * u2 / (u1 + u2)) / SUM(n), 9) AS w2,
             ROUND(SUM(n * u2 / (u1 + u2) * x)
                   / SUM(n * u2 / (u1 + u2)), 6) AS m2,
             ROUND(sqrt(SUM(n * u2 / (u1 + u2) * x * x)
                        / SUM(n * u2 / (u1 + u2))
                        - (SUM(n * u2 / (u1 + u2) * x)
                           / SUM(n * u2 / (u1 + u2)))
                          * (SUM(n * u2 / (u1 + u2) * x)
                             / SUM(n * u2 / (u1 + u2)))), 6) AS s2
      FROM e{b}
    )"""
    rounds = ",".join(step.format(a=i, b=i + 1) for i in range(_EM_ROUNDS))
    w1, m1, s1, w2, m2, s2 = _EM_INIT
    return f"""
    WITH vals AS (
      SELECT o_totalprice
             + (CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                         1, 15)) AS BIGINT) % 2)
               * {_EM_SHIFT} AS v
      FROM orders
    ),
    hist AS (
      SELECT (FLOOR(v / {_EM_BINW}) + 0.5) * {_EM_BINW} AS x,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM vals GROUP BY 1
    ),
    p0 AS (SELECT {w1} AS w1, {m1} AS m1, {s1} AS s1,
                  {w2} AS w2, {m2} AS m2, {s2} AS s2),
    {rounds}
    SELECT k.component,
           ROUND(CASE WHEN k.component = 1 THEN p.w1 ELSE p.w2 END, 6)
             AS weight,
           ROUND(CASE WHEN k.component = 1 THEN p.m1 ELSE p.m2 END, 4)
             AS mean_value,
           ROUND(CASE WHEN k.component = 1 THEN p.s1 ELSE p.s2 END, 4)
             AS stddev_value
    FROM p{_EM_ROUNDS} p
    CROSS JOIN (SELECT 1 AS component UNION ALL SELECT 2) k
    """


@register("ml_gaussian_mixture_em", oracle=_em_oracle())
def ml_gaussian_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian-mixture fit by {_EM_ROUNDS} unrolled EM
    rounds over a histogram — the distributed-EM pattern every cluster
    ML library uses (E and M are both mergeable aggregates over bins;
    binning makes the E-step O(bins) instead of O(rows), the same
    sketch-first discipline as `ml_auc_roc`). The fixture's order value
    is unimodal-uniform, so bimodality is CONSTRUCTED (the module's
    convention): half the orders, chosen by md5 parity, shift by
    +{_EM_SHIFT} — EM must recover means near 250k and 750k from the
    deliberately-wrong 200k/800k init, and measurably does.

    Cross-engine determinism: bin centers are exact; after every M-step
    the six parameters are QUANTIZED (ROUND 6/9 — the `ml_naive_bayes`
    quantized-model trick), so each round's E-step consumes identical
    doubles in both engines and fold-order ulp cannot compound across
    rounds.

    Scale: one scan to an O(bins) histogram; each EM round is one
    broadcast of 6 parameters onto the bins plus one 6-number aggregate
    — executor state O(bins), driver state zero, rounds extend by
    chaining (no driver loop actions)."""
    o = load(spark, sf_dir, "orders")
    shift = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    ) * _EM_SHIFT
    vals = o.select((F.col("o_totalprice") + shift).alias("v"))
    hist = vals.groupBy(
        ((F.floor(F.col("v") / _EM_BINW) + 0.5) * _EM_BINW).alias("x")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    w1, m1, s1, w2, m2, s2 = _EM_INIT
    params = spark.sql(
        f"SELECT {w1} AS w1, {m1} AS m1, {s1} AS s1,"
        f" {w2} AS w2, {m2} AS m2, {s2} AS s2"
    )
    for _ in range(_EM_ROUNDS):
        u1 = (
            F.col("w1")
            * F.exp(
                -(F.col("x") - F.col("m1"))
                * (F.col("x") - F.col("m1"))
                / (2 * F.col("s1") * F.col("s1"))
            )
            / F.col("s1")
        )
        u2 = (
            F.col("w2")
            * F.exp(
                -(F.col("x") - F.col("m2"))
                * (F.col("x") - F.col("m2"))
                / (2 * F.col("s2") * F.col("s2"))
            )
            / F.col("s2")
        )
        e = hist.crossJoin(F.broadcast(params)).select(
            "x", "n", u1.alias("u1"), u2.alias("u2")
        )
        r1 = F.col("u1") / (F.col("u1") + F.col("u2"))
        r2 = F.col("u2") / (F.col("u1") + F.col("u2"))

        def mstep(r, tag):
            sw = F.sum(F.col("n") * r)
            mean = F.sum(F.col("n") * r * F.col("x")) / sw
            var = F.sum(F.col("n") * r * F.col("x") * F.col("x")) / sw - mean * mean
            return [
                F.round(sw / F.sum("n"), 9).alias(f"w{tag}"),
                F.round(mean, 6).alias(f"m{tag}"),
                F.round(F.sqrt(var), 6).alias(f"s{tag}"),
            ]

        params = e.agg(*(mstep(r1, "1") + mstep(r2, "2")))
    comp = spark.sql("SELECT 1 AS component UNION ALL SELECT 2")
    return params.crossJoin(F.broadcast(comp)).select(
        "component",
        F.round(
            F.when(F.col("component") == 1, F.col("w1")).otherwise(F.col("w2")), 6
        ).alias("weight"),
        F.round(
            F.when(F.col("component") == 1, F.col("m1")).otherwise(F.col("m2")), 4
        ).alias("mean_value"),
        F.round(
            F.when(F.col("component") == 1, F.col("s1")).otherwise(F.col("s2")), 4
        ).alias("stddev_value"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch check (round 9)
# ---------------------------------------------------------------------------
_SRM_CHI2_CRIT_1DF = 3.841459  # chi2(1) 95th percentile, fixed literal


@register(
    "ml_ab_srm_check",
    oracle=f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || '#srm'),
                                      1, 15)) AS BIGINT) % 3 = 0 AS dropped
      FROM events
    ),
    scen AS (
      SELECT 'healthy' AS scenario, arm FROM assign
      UNION ALL
      SELECT 'broken_bucketing', arm FROM assign
      WHERE NOT (arm = 1 AND dropped)
    ),
    cnt AS (
      SELECT scenario,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1
      FROM scen GROUP BY 1
    )
    SELECT scenario,
           CAST(n0 AS BIGINT) AS n_control,
           CAST(n1 AS BIGINT) AS n_treat,
           ROUND(n1 / (n0 + n1), 6) AS treat_share,
           ROUND((n0 - (n0 + n1) / 2) * (n0 - (n0 + n1) / 2) / ((n0 + n1) / 2)
                 + (n1 - (n0 + n1) / 2) * (n1 - (n0 + n1) / 2) / ((n0 + n1) / 2),
                 4) AS chi2,
           (n0 - (n0 + n1) / 2) * (n0 - (n0 + n1) / 2) / ((n0 + n1) / 2)
           + (n1 - (n0 + n1) / 2) * (n1 - (n0 + n1) / 2) / ((n0 + n1) / 2)
             > {_SRM_CHI2_CRIT_1DF} AS srm_detected
    FROM cnt
    """,
)
def ml_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the assignment-integrity test every
    experiment platform runs BEFORE reading any metric (Fabijan et al.
    2019: a biased split invalidates the readout no matter how
    significant it looks): chi-square goodness-of-fit of the observed
    arm counts against the designed 50/50, at the user grain. Two
    scenarios share the scan: `healthy` (the md5 split — expect no SRM)
    and `broken_bucketing`, where 1/10 of treatment users are
    deterministically dropped (the classic redirect-loss bug) — SRM
    fires. Completes the experimentation suite's integrity corner
    (power -> SRM -> readout -> sequential monitor).

    Counts are exact integers; the chi-square is rational arithmetic on
    them; the 1-dof critical value is a fixed literal in both engines.

    Scale: one distinct-user aggregate, two 2-counter rows out."""
    ev = load(spark, sf_dir, "events")
    h = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")  # noqa: E731
    assign = ev.select(
        "user_id",
        (h(F.col("user_id").cast("string")) % 2).alias("arm"),
        (
            h(F.concat(F.col("user_id").cast("string"), F.lit("#srm"))) % 3 == 0
        ).alias("dropped"),
    ).distinct()
    healthy = assign.select(F.lit("healthy").alias("scenario"), "arm")
    broken = assign.filter(~((F.col("arm") == 1) & F.col("dropped"))).select(
        F.lit("broken_bucketing").alias("scenario"), "arm"
    )
    cnt = (
        healthy.unionByName(broken)
        .groupBy("scenario")
        .agg(
            F.sum((F.col("arm") == 0).cast("int")).cast("double").alias("n0"),
            F.sum((F.col("arm") == 1).cast("int")).cast("double").alias("n1"),
        )
    )
    exp = (F.col("n0") + F.col("n1")) / 2
    chi2 = (F.col("n0") - exp) * (F.col("n0") - exp) / exp + (
        F.col("n1") - exp
    ) * (F.col("n1") - exp) / exp
    return cnt.select(
        "scenario",
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.round(F.col("n1") / (F.col("n0") + F.col("n1")), 6).alias("treat_share"),
        F.round(chi2, 4).alias("chi2"),
        (chi2 > _SRM_CHI2_CRIT_1DF).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Average precision / PR-AUC (round 9)
# ---------------------------------------------------------------------------


@register(
    "ml_pr_auc",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice / {_AUC_BIN}) AS BIGINT) AS bucket,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    ),
    hist AS (
      SELECT o_orderpriority, bucket,
             SUM(label) AS pos,
             CAST(COUNT(*) AS DOUBLE) - SUM(label) AS neg
      FROM per GROUP BY 1, 2
    ),
    cum AS (
      SELECT o_orderpriority, bucket, pos, neg,
             SUM(pos) OVER (PARTITION BY o_orderpriority ORDER BY bucket DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS tp,
             SUM(neg) OVER (PARTITION BY o_orderpriority ORDER BY bucket DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS fp,
             SUM(pos) OVER (PARTITION BY o_orderpriority) AS npos,
             SUM(pos + neg) OVER (PARTITION BY o_orderpriority) AS ntot
      FROM hist
    )
    SELECT o_orderpriority,
           CAST(npos AS BIGINT) AS n_pos,
           ROUND(SUM(pos * (tp / (tp + fp))) / npos, 6) AS pr_auc,
           ROUND(MAX(npos / ntot), 6) AS baseline_prevalence
    FROM cum GROUP BY o_orderpriority, npos
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) of the same histogram-quantized score
    and signal-plus-noise label as `ml_auc_roc` — the ranking metric
    that matters under class imbalance, where ROC-AUC flatters (Davis &
    Goadrich 2006). Computed by the exact step-interpolation identity
    AP = sum over descending score buckets of (recall gained in the
    bucket) x (precision at the bucket) = sum(pos_b * P_b) / n_pos,
    with P_b = TP_b / (TP_b + FP_b) from cumulative counts in
    DESCENDING score order; the per-slice prevalence column is the
    random-ranker baseline AP is judged against.

    Same sketch-first scale shape as `ml_auc_roc`: O(rows) projection
    -> O(slices x buckets) mergeable histogram -> cumulative window
    over <= ~1.2k rows per slice. Everything is rational arithmetic on
    exact integer-valued doubles; ROUND(6) display-only."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / _AUC_BIN).cast("long").alias("bucket"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    hist = per.groupBy("o_orderpriority", "bucket").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("double").alias("neg"),
    )
    wd = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "pos",
        F.sum("pos").over(wd).alias("tp"),
        F.sum("neg").over(wd).alias("fp"),
        F.sum("pos").over(wall).alias("npos"),
        F.sum(F.col("pos") + F.col("neg")).over(wall).alias("ntot"),
    )
    return cum.groupBy("o_orderpriority", "npos").agg(
        F.max("npos").cast("long").alias("n_pos"),
        F.round(
            F.sum(F.col("pos") * (F.col("tp") / (F.col("tp") + F.col("fp"))))
            / F.col("npos"),
            6,
        ).alias("pr_auc"),
        F.round(F.max(F.col("npos") / F.col("ntot")), 6).alias(
            "baseline_prevalence"
        ),
    ).select("o_orderpriority", "n_pos", "pr_auc", "baseline_prevalence")


# ---------------------------------------------------------------------------
# Brier-score Murphy decomposition (round 9)
# ---------------------------------------------------------------------------


@register(
    "ml_brier_decomposition",
    oracle=f"""
    WITH per AS (
      SELECT LEAST(9, CAST(FLOOR(o_totalprice / {_CAL_BINW}) AS BIGINT)) AS bin,
             1.0 / (1.0 + EXP(-(o_totalprice - {_CAL_MID}) / {_CAL_SCALE}))
               AS score,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS DOUBLE) AS nk,
             AVG(score) AS fk, AVG(label) AS ok_
      FROM per GROUP BY bin
    ),
    g2 AS (
      SELECT CAST(SUM(nk) AS DOUBLE) AS n,
             SUM(nk * ok_) / SUM(nk) AS obar,
             SUM(nk * (fk - ok_) * (fk - ok_)) / SUM(nk) AS reliability
      FROM bins
    ),
    res AS (
      SELECT SUM(b.nk * (b.ok_ - g2.obar) * (b.ok_ - g2.obar)) / g2.n
               AS resolution,
             MAX(g2.obar) AS obar, MAX(g2.n) AS n,
             MAX(g2.reliability) AS reliability
      FROM bins b CROSS JOIN g2
      GROUP BY g2.n
    ),
    brier AS (
      SELECT SUM((score - label) * (score - label))
             / CAST(COUNT(*) AS DOUBLE) AS brier
      FROM per
    )
    SELECT CAST(r.n AS BIGINT) AS n,
           ROUND(b.brier, 6) AS brier,
           ROUND(r.reliability, 6) AS reliability,
           ROUND(r.resolution, 6) AS resolution,
           ROUND(r.obar * (1 - r.obar), 6) AS uncertainty,
           ROUND(r.reliability - r.resolution + r.obar * (1 - r.obar), 6)
             AS decomposed_brier,
           ROUND(b.brier - (r.reliability - r.resolution
                            + r.obar * (1 - r.obar)), 6)
             AS within_bin_residual
    FROM res r CROSS JOIN brier b
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the
    `ml_calibration_bins` model: Brier = reliability - resolution +
    uncertainty, computed over the same 10 fixed price bins —
    reliability (how far bin confidence sits from bin frequency, lower
    better), resolution (how much the bins separate outcomes, higher
    better), and uncertainty (the irreducible obar(1-obar)). The
    `within_bin_residual` column reports the identity's within-bin
    variance remainder (the decomposition is exact only for bin-constant
    forecasts), so the operator also QUANTIFIES its own binning error —
    the honest version of the textbook identity.

    All terms are ratios of mergeable sums over 10 bins; the logistic
    score follows the module's libm convention; ROUND(6) display-only.

    Scale: one scan into a 10-row bin aggregate plus a 1-row Brier
    aggregate — two cheap passes (or one with a dual-purpose agg), the
    forecast-verification query at any volume."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    score = 1.0 / (1.0 + F.exp(-(F.col("o_totalprice") - _CAL_MID) / _CAL_SCALE))
    per = o.select(
        F.least(F.lit(9), F.floor(F.col("o_totalprice") / _CAL_BINW).cast("long")).alias(
            "bin"
        ),
        score.alias("score"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    bins = per.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("nk"),
        F.avg("score").alias("fk"),
        F.avg("label").alias("ok_"),
    )
    g2 = bins.agg(
        F.sum("nk").alias("n"),
        (F.sum(F.col("nk") * F.col("ok_")) / F.sum("nk")).alias("obar"),
        (
            F.sum(F.col("nk") * (F.col("fk") - F.col("ok_")) * (F.col("fk") - F.col("ok_")))
            / F.sum("nk")
        ).alias("reliability"),
    )
    res = bins.crossJoin(F.broadcast(g2)).groupBy("n").agg(
        (
            F.sum(
                F.col("nk")
                * (F.col("ok_") - F.col("obar"))
                * (F.col("ok_") - F.col("obar"))
            )
            / F.max("n")
        ).alias("resolution"),
        F.max("obar").alias("obar"),
        F.max("reliability").alias("reliability"),
    )
    brier = per.agg(
        (
            F.sum((F.col("score") - F.col("label")) * (F.col("score") - F.col("label")))
            / F.count(F.lit(1)).cast("double")
        ).alias("brier")
    )
    unc = F.col("obar") * (1 - F.col("obar"))
    decomp = F.col("reliability") - F.col("resolution") + unc
    return res.crossJoin(F.broadcast(brier)).select(
        F.col("n").cast("long").alias("n"),
        F.round("brier", 6).alias("brier"),
        F.round("reliability", 6).alias("reliability"),
        F.round("resolution", 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(decomp, 6).alias("decomposed_brier"),
        F.round(F.col("brier") - decomp, 6).alias("within_bin_residual"),
    )


# ---------------------------------------------------------------------------
# Feature-label mutual information (round 9)
# ---------------------------------------------------------------------------
_MI_BINW = 50_000  # price decile-ish bins for the MI estimate


@register(
    "ml_mutual_information",
    oracle=f"""
    WITH per AS (
      SELECT CAST(FLOOR(o_totalprice / {_MI_BINW}) AS BIGINT) AS xbin,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1 ELSE 0 END AS y,
             CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR) || '#mi'),
                                      1, 15)) AS BIGINT) % 10 AS noisebin
      FROM orders
    ),
    feats AS (
      SELECT 'price_bin' AS feature, xbin AS x, y FROM per
      UNION ALL
      SELECT 'random_bin', noisebin, y FROM per
    ),
    cells AS (
      SELECT feature, x, y, CAST(COUNT(*) AS DOUBLE) AS nxy
      FROM feats GROUP BY 1, 2, 3
    ),
    margins AS (
      SELECT feature, x, y, nxy,
             SUM(nxy) OVER (PARTITION BY feature, x) AS nx,
             SUM(nxy) OVER (PARTITION BY feature, y) AS ny,
             SUM(nxy) OVER (PARTITION BY feature) AS n
      FROM cells
    ),
    mi AS (
      SELECT feature,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             SUM(nxy / n * ln(nxy * n / (nx * ny))) / ln(2) AS mi_bits
      FROM margins GROUP BY feature
    ),
    hy AS (
      SELECT feature, -SUM(ny / n * ln(ny / n) / ln(2)) AS hy
      FROM (SELECT feature, y, SUM(nxy) AS ny,
                   SUM(SUM(nxy)) OVER (PARTITION BY feature) AS n
            FROM cells GROUP BY feature, y)
      GROUP BY feature
    )
    SELECT mi.feature, mi.n_cells,
           ROUND(mi.mi_bits, 6) AS mi_bits,
           ROUND(mi.mi_bits / hy.hy, 6) AS mi_over_hy
    FROM mi JOIN hy USING (feature)
    """,
)
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a binned feature and the
    `ml_auc_roc` label, in bits, with the normalized MI / H(Y) share
    (how much of the label's entropy the feature explains) — the
    model-free feature-selection screen (pairs with `ml_woe_iv`: IV is
    MI's weighted-log-odds cousin; MI also catches NON-monotone
    dependence that WoE binning hides). Two features share the scan so
    both verdicts are real: the price bin (genuinely informative —
    the label is price plus noise) and a pure md5 noise bin (MI ~ 0,
    the independence floor).

    All probabilities are ratios of exact integer cell counts from ONE
    (feature, x, y) aggregate; margins come from partitioned windows
    over those O(bins x 2) cells, never a second scan. ln applies to
    identical rationals (module convention), ROUND(6) display-only.

    Scale: one O(rows) projection -> one mergeable cell aggregate ->
    windows over tens of rows. Any feature set just unions more
    (feature, x, y) triples into the same shuffle."""
    o = load(spark, sf_dir, "orders")
    h = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")  # noqa: E731
    noise = h(F.col("o_orderkey").cast("string")) % _AUC_NOISE_MOD
    per = o.select(
        F.floor(F.col("o_totalprice") / _MI_BINW).cast("long").alias("xbin"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1)
        .otherwise(0)
        .alias("y"),
        (
            h(F.concat(F.col("o_orderkey").cast("string"), F.lit("#mi"))) % 10
        ).alias("noisebin"),
    )
    feats = per.select(
        F.lit("price_bin").alias("feature"), F.col("xbin").alias("x"), "y"
    ).unionByName(
        per.select(
            F.lit("random_bin").alias("feature"), F.col("noisebin").alias("x"), "y"
        )
    )
    cells = feats.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).cast("double").alias("nxy")
    )
    wx = Window.partitionBy("feature", "x")
    wy = Window.partitionBy("feature", "y")
    wf = Window.partitionBy("feature")
    margins = cells.select(
        "feature",
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(wx).alias("nx"),
        F.sum("nxy").over(wy).alias("ny"),
        F.sum("nxy").over(wf).alias("n"),
    )
    import math as _m

    ln2 = _m.log(2)
    mi_expr = F.sum(
        F.col("nxy")
        / F.col("n")
        * F.log(F.col("nxy") * F.col("n") / (F.col("nx") * F.col("ny")))
    ) / ln2
    mi = margins.groupBy("feature").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        mi_expr.alias("mi_bits"),
    )
    # H(Y) from the true y-margin rows — NOT SUM(DISTINCT term), which
    # would silently collapse if the class shares were exactly equal
    ymarg = cells.groupBy("feature", "y").agg(F.sum("nxy").alias("ny"))
    ymarg = ymarg.withColumn("n", F.sum("ny").over(Window.partitionBy("feature")))
    hy = ymarg.groupBy("feature").agg(
        (-F.sum(F.col("ny") / F.col("n") * F.log(F.col("ny") / F.col("n")) / ln2))
        .alias("hy")
    )
    return mi.join(hy, "feature").select(
        "feature",
        "n_cells",
        F.round("mi_bits", 6).alias("mi_bits"),
        F.round(F.col("mi_bits") / F.col("hy"), 6).alias("mi_over_hy"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (round 9)
# ---------------------------------------------------------------------------


@register(
    "agg_anova_oneway",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority AS grp, o_totalprice AS x FROM orders
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(x) AS m, SUM(x * x) AS sxx
      FROM per GROUP BY grp
    ),
    tot AS (
      SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm,
             CAST(COUNT(*) AS DOUBLE) AS k
      FROM g
    ),
    comps AS (
      SELECT SUM(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
             SUM(g.sxx - g.n * g.m * g.m) AS ssw,
             MAX(t.nt) AS nt, MAX(t.k) AS k
      FROM g CROSS JOIN tot t
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(nt AS BIGINT) AS n_rows,
           ROUND(ssb / (k - 1), 4) AS ms_between,
           ROUND(ssw / (nt - k), 4) AS ms_within,
           ROUND((ssb / (k - 1)) / (ssw / (nt - k)), 6) AS f_stat,
           ROUND(ssb / (ssb + ssw), 6) AS eta_squared
    FROM comps
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five order priorities:
    between/within mean squares, the F statistic, and eta-squared (the
    variance-explained effect size) — the k-group generalization of
    `agg_welch_ttest` and the first test run on any "does this segment
    matter?" question. The fixture's priorities are independent of
    price, so this is an honest null family (F ~ 1, eta^2 ~ 0 — the
    `events_granger` convention): the machinery, not a planted effect,
    is what the oracle pins.

    Sums of squares come from per-group moments (the distributed ANOVA
    identity SSW = sum(sxx - n m^2); no second pass), all mergeable;
    the F ratio divides engine-identical doubles, ROUND display-only.

    Scale: one partial-aggregating groupBy(priority) -> O(k) rows ->
    a 1-row reduction. The cheapest k-group comparison at any volume."""
    o = load(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("sxx"),
    )
    t = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    comps = g.crossJoin(F.broadcast(t)).agg(
        F.sum(F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias(
            "ssb"
        ),
        F.sum(F.col("sxx") - F.col("n") * F.col("m") * F.col("m")).alias("ssw"),
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
    )
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("nt") - F.col("k"))
    return comps.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nt").cast("long").alias("n_rows"),
        F.round(msb, 4).alias("ms_between"),
        F.round(msw, 4).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Logistic regression by unrolled gradient descent (round 9)
# ---------------------------------------------------------------------------
_LGD_ROUNDS = 5
_LGD_LR = 2.0
_LGD_PRICE_SCALE = 500_000.0
_LGD_DAY_SCALE = 2_500.0
_LGD_PRICE_BINW = 5_000
_LGD_DAY_BINW = 60


def _lgd_oracle() -> str:
    step = """
    p{b} AS (
      SELECT ROUND(p.b0 - {lr} * SUM(c.n * (1.0 / (1.0 + exp(-(p.b0
                       + p.b1 * c.x1 + p.b2 * c.x2))) ) - c.pos)
                   / SUM(c.n), 9) AS b0,
             ROUND(p.b1 - {lr} * SUM((c.n * (1.0 / (1.0 + exp(-(p.b0
                       + p.b1 * c.x1 + p.b2 * c.x2))) ) - c.pos) * c.x1)
                   / SUM(c.n), 9) AS b1,
             ROUND(p.b2 - {lr} * SUM((c.n * (1.0 / (1.0 + exp(-(p.b0
                       + p.b1 * c.x1 + p.b2 * c.x2))) ) - c.pos) * c.x2)
                   / SUM(c.n), 9) AS b2
      FROM cells c CROSS JOIN p{a} p
      GROUP BY p.b0, p.b1, p.b2
    )"""
    rounds = ",".join(
        step.format(a=i, b=i + 1, lr=_LGD_LR) for i in range(_LGD_ROUNDS)
    )
    return f"""
    WITH per AS (
      SELECT FLOOR(o_totalprice / {_LGD_PRICE_BINW}) * {_LGD_PRICE_BINW}
               / {_LGD_PRICE_SCALE} AS x1,
             FLOOR(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                   / {_LGD_DAY_BINW}) * {_LGD_DAY_BINW} / {_LGD_DAY_SCALE} AS x2,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ),
    cells AS (
      SELECT x1, x2, CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS pos
      FROM per GROUP BY 1, 2
    ),
    p0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
                  CAST(0.0 AS DOUBLE) AS b2),
    {rounds},
    fit AS (
      SELECT -SUM(c.pos * ln(1.0 / (1.0 + exp(-(p.b0 + p.b1 * c.x1
                                                + p.b2 * c.x2))))
                  + (c.n - c.pos)
                    * ln(1.0 - 1.0 / (1.0 + exp(-(p.b0 + p.b1 * c.x1
                                                  + p.b2 * c.x2)))))
               / SUM(c.n) AS logloss,
             SUM(CASE WHEN (1.0 / (1.0 + exp(-(p.b0 + p.b1 * c.x1
                                               + p.b2 * c.x2))) >= 0.5
                            AND c.pos > c.n / 2)
                       OR (1.0 / (1.0 + exp(-(p.b0 + p.b1 * c.x1
                                              + p.b2 * c.x2))) < 0.5
                           AND c.pos <= c.n / 2)
                      THEN c.n ELSE 0 END) / SUM(c.n) AS cell_accuracy,
             MAX(p.b0) AS b0, MAX(p.b1) AS b1, MAX(p.b2) AS b2
      FROM cells c CROSS JOIN p{_LGD_ROUNDS} p
    )
    SELECT ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
           ROUND(logloss, 6) AS logloss,
           ROUND(cell_accuracy, 6) AS cell_majority_accuracy
    FROM fit
    """


@register("ml_logistic_gd", oracle=_lgd_oracle())
def ml_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by {_LGD_ROUNDS} unrolled FULL-BATCH
    gradient-descent rounds over a binned design — the distributed GD
    shape itself (each round is ONE mergeable aggregate producing the
    exact gradient; parameters broadcast back — Spark MLlib's LBFGS/GD
    loop does precisely this per iteration): predicting the `ml_auc_roc`
    label from scaled price (informative) and scaled order date
    (uninformative — its weight correctly stays near 0, the
    `ml_ridge_regression` partialling story in classifier form). Features
    are bin CENTERS, so the binned gradient is EXACT for the model being
    fit (the EM histogram discipline, not an approximation dodge).
    Reports the fitted coefficients, training log-loss, and cell-majority
    accuracy.

    Parameters are QUANTIZED (ROUND 9) after every update, so each
    round's sigmoid consumes identical doubles in both engines and
    fold-order ulp cannot compound (the `ml_gaussian_mixture_em`
    convention).

    Scale: one scan to O(price-bins x date-bins) cells; each round is a
    3-number aggregate over those cells with a 3-parameter broadcast —
    executor state O(cells), driver state zero, rounds extend by
    chaining."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        (
            F.floor(F.col("o_totalprice") / _LGD_PRICE_BINW)
            * _LGD_PRICE_BINW
            / _LGD_PRICE_SCALE
        ).alias("x1"),
        (
            F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1995-01-01").cast("date"),
                )
                / _LGD_DAY_BINW
            )
            * _LGD_DAY_BINW
            / _LGD_DAY_SCALE
        ).alias("x2"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    # one eager cut: cells feeds all 5 chained gradient rounds plus the
    # final fit aggregate — uncut, each consumer re-ran the orders scan +
    # bin aggregate (6 executions of the data-sized subtree per
    # invocation); checkpointed, every round is an aggregate over the
    # O(price-bins x date-bins) leaf (r14; the shared-subtree discipline)
    cells = (
        per.groupBy("x1", "x2")
        .agg(F.count(F.lit(1)).cast("double").alias("n"), F.sum("y").alias("pos"))
        .localCheckpoint(eager=True)
    )
    params = spark.sql(
        "SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,"
        " CAST(0.0 AS DOUBLE) AS b2"
    )
    for _ in range(_LGD_ROUNDS):
        z = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
        sig = 1.0 / (1.0 + F.exp(-z))
        j = cells.crossJoin(F.broadcast(params))
        params = j.groupBy("b0", "b1", "b2").agg(
            F.round(
                F.first("b0")
                - _LGD_LR
                * F.sum(F.col("n") * sig - F.col("pos"))
                / F.sum("n"),
                9,
            ).alias("nb0"),
            F.round(
                F.first("b1")
                - _LGD_LR
                * F.sum((F.col("n") * sig - F.col("pos")) * F.col("x1"))
                / F.sum("n"),
                9,
            ).alias("nb1"),
            F.round(
                F.first("b2")
                - _LGD_LR
                * F.sum((F.col("n") * sig - F.col("pos")) * F.col("x2"))
                / F.sum("n"),
                9,
            ).alias("nb2"),
        ).select(
            F.col("nb0").alias("b0"),
            F.col("nb1").alias("b1"),
            F.col("nb2").alias("b2"),
        )
    z = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
    sig = 1.0 / (1.0 + F.exp(-z))
    maj_ok = F.when(
        ((sig >= 0.5) & (F.col("pos") > F.col("n") / 2))
        | ((sig < 0.5) & (F.col("pos") <= F.col("n") / 2)),
        F.col("n"),
    ).otherwise(0.0)
    fit = cells.crossJoin(F.broadcast(params)).agg(
        (
            -F.sum(
                F.col("pos") * F.log(sig)
                + (F.col("n") - F.col("pos")) * F.log(1.0 - sig)
            )
            / F.sum("n")
        ).alias("logloss"),
        (F.sum(maj_ok) / F.sum("n")).alias("cell_accuracy"),
        F.max("b0").alias("b0"),
        F.max("b1").alias("b1"),
        F.max("b2").alias("b2"),
    )
    out = fit.select(
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round("logloss", 6).alias("logloss"),
        F.round("cell_accuracy", 6).alias("cell_majority_accuracy"),
    ).localCheckpoint(eager=True)  # 1 row; lets the cells blocks free now
    release(cells)
    return out


# ---------------------------------------------------------------------------
# Pairwise covariance / correlation matrix (round 9)
# ---------------------------------------------------------------------------
_CM_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_matrix_oracle() -> str:
    rows = []
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i:]:
            rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" ROUND(covar_samp({a}, {b}), 6) AS cov,"
                f" ROUND(corr({a}, {b}), 6) AS corr FROM lineitem"
            )
    return " UNION ALL ".join(rows)


@register("agg_corr_matrix", oracle=_corr_matrix_oracle())
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise sample covariance / correlation matrix (upper triangle +
    diagonal) of the four numeric lineitem columns — the feature-screen
    matrix every modeling notebook renders first, and the input to
    multicollinearity checks before `ml_ridge_regression`-style fits
    (`corr_covar` computes ONE pair; this is the d(d+1)/2 build). All
    ten statistics come from ONE aggregate pass (Spark fuses the
    `covar_samp`/`corr` aggregates into a single shuffle), so the matrix
    costs one scan regardless of d.

    Both engines' covar_samp/corr are the same sample statistics
    (module convention); ROUND(6) absorbs fold-order ulp. The fixture's
    columns are mutually independent by construction, so off-diagonal
    correlations sit near 0 and the diagonal is exactly 1 — an honest
    identity-matrix null the test pins.

    Scale: one O(rows) scan into a 10-statistic mergeable aggregate,
    then a literal unpivot; d features widen the aggregate, never add
    passes."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i:]:
            aggs.append(F.round(F.covar_samp(a, b), 6).alias(f"cov_{a}__{b}"))
            aggs.append(F.round(F.corr(a, b), 6).alias(f"corr_{a}__{b}"))
    one = li.agg(*aggs)
    pairs = [(a, b) for i, a in enumerate(_CM_COLS) for b in _CM_COLS[i:]]
    stack = ", ".join(
        f"'{a}', '{b}', `cov_{a}__{b}`, `corr_{a}__{b}`" for a, b in pairs
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack}) as (col_a, col_b, cov, corr)"
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (round 9)
# ---------------------------------------------------------------------------


@register(
    "agg_spearman_corr",
    oracle="""
    WITH per AS (
      SELECT l_returnflag AS grp, l_quantity AS x, l_extendedprice AS y
      FROM lineitem
    ),
    rx AS (
      SELECT grp, x, y,
             RANK() OVER (PARTITION BY grp ORDER BY x)
               + (COUNT(*) OVER (PARTITION BY grp, x) - 1) / 2.0 AS r_x,
             RANK() OVER (PARTITION BY grp ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY grp, y) - 1) / 2.0 AS r_y
      FROM per
    )
    SELECT grp AS l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(r_x, r_y), 4) AS spearman_rho,
           ROUND(corr(x, y), 4) AS pearson_r
    FROM rx GROUP BY grp
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with the Pearson column alongside for
    the monotone-vs-linear contrast) between quantity and price per
    return flag — the outlier-robust dependence screen every EDA pass
    runs when Pearson can be dragged by tails. Ties get textbook AVERAGE
    ranks, computed exactly as RANK() + (tie_count - 1)/2 (quantity has
    only 50 distinct values, so tie handling IS the operator); Spearman
    is then Pearson on the rank columns. The fixture's columns are
    independent, so both coefficients sit near 0 — an honest null
    (`events_granger` convention).

    Ranks are exact integers-or-halves from partitioned windows (never a
    global sort); `corr` is the shared sample statistic, ROUND(4)
    absorbing fold-order ulp (the corr_covar convention).

    Scale: two windows sharing the per-group partition (one sort each)
    + one mergeable aggregate — O(rows log rows) within groups, the
    standard distributed rank-statistic budget. For extreme groups,
    swap exact ranks for bucketed midranks (the agg_ks_test sketch)."""
    li = load(spark, sf_dir, "lineitem")
    per = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    rx = per.select(
        "grp",
        "x",
        "y",
        (
            F.rank().over(Window.partitionBy("grp").orderBy("x"))
            + (F.count(F.lit(1)).over(Window.partitionBy("grp", "x")) - 1) / 2.0
        ).alias("r_x"),
        (
            F.rank().over(Window.partitionBy("grp").orderBy("y"))
            + (F.count(F.lit(1)).over(Window.partitionBy("grp", "y")) - 1) / 2.0
        ).alias("r_y"),
    )
    return rx.groupBy(F.col("grp").alias("l_returnflag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("r_x", "r_y"), 4).alias("spearman_rho"),
        F.round(F.corr("x", "y"), 4).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe / Levene variance-homogeneity test (round 9)
# ---------------------------------------------------------------------------


@register(
    "agg_levene_test",
    oracle="""
    WITH med AS (
      SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY 1
    ),
    z AS (
      SELECT li.l_returnflag AS g, ABS(li.l_extendedprice - med.m) AS z
      FROM lineitem li JOIN med ON med.g = li.l_returnflag
    ),
    grp AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n, AVG(z) AS zbar,
             SUM(z * z) - COUNT(*) * AVG(z) * AVG(z) AS ss_within
      FROM z GROUP BY g
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(COUNT(*) AS BIGINT) AS k,
             SUM(n * zbar) / SUM(n) AS zgrand,
             SUM(ss_within) AS ssw
      FROM grp
    )
    SELECT g AS l_returnflag, n, ROUND(zbar, 4) AS mean_absdev,
           ROUND(((SELECT n_tot FROM tot) - (SELECT k FROM tot))
                 * (SELECT SUM(n * (zbar - (SELECT zgrand FROM tot))
                               * (zbar - (SELECT zgrand FROM tot))) FROM grp)
                 / (((SELECT k FROM tot) - 1) * (SELECT ssw FROM tot)), 4)
             AS levene_f
    FROM grp
    """,
)
def agg_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with median centers, the robust
    default) for variance homogeneity of ``l_extendedprice`` across return
    flags — the gate check before trusting ANOVA's equal-variance
    assumption (`agg_anova_oneway` is the companion): F on the absolute
    deviations from each group's MEDIAN, large F = heteroscedastic.

    Exactness: group medians are exact interpolated percentiles in both
    engines; within-group sums of squares use the one-pass identity
    Σz² − n·z̄² on identical doubles; the shared F repeats per output row
    (grouped-row + global-statistic convention used by the other tests
    here). Scale: one join against a k-row broadcast of medians, one
    partial-aggregating groupBy, one k-row final reduce — the raw table
    is touched twice (percentile pass + deviation pass), both linear."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("m")
    )
    z = li.join(F.broadcast(med), li.l_returnflag == med.g).select(
        "g", F.abs(F.col("l_extendedprice") - F.col("m")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("z").alias("zbar"),
        (F.sum(F.col("z") * F.col("z"))
         - F.count(F.lit(1)) * F.avg("z") * F.avg("z")).alias("ss_within"),
    )
    tot = grp.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum(F.col("n") * F.col("zbar")) / F.sum("n")).alias("zgrand"),
        F.sum("ss_within").alias("ssw"),
    )
    ssb = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n")
                * (F.col("zbar") - F.col("zgrand"))
                * (F.col("zbar") - F.col("zgrand"))
            ).alias("ssb"),
            F.first("n_tot").alias("n_tot"),
            F.first("k").alias("k"),
            F.first("ssw").alias("ssw"),
        )
    )
    return grp.crossJoin(F.broadcast(ssb)).select(
        F.col("g").alias("l_returnflag"),
        "n",
        F.round("zbar", 4).alias("mean_absdev"),
        F.round(
            (F.col("n_tot") - F.col("k")) * F.col("ssb")
            / ((F.col("k") - 1) * F.col("ssw")),
            4,
        ).alias("levene_f"),
    )


# ---------------------------------------------------------------------------
# Randomization (approximate permutation) test (round 9)
# ---------------------------------------------------------------------------
_PERM_K = 200  # md5-seeded pseudo-permutations


@register(
    "agg_permutation_test",
    oracle=f"""
    WITH base AS (
      SELECT event_id, value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'view')
    ),
    obs AS (
      SELECT AVG(CASE WHEN is_a = 1 THEN value END)
             - AVG(CASE WHEN is_a = 0 THEN value END) AS d,
             SUM(is_a) AS n_a, COUNT(*) AS n
      FROM base
    ),
    perms AS (
      SELECT s.seed,
             AVG(CASE WHEN CAST(concat('0x', substr(md5(CAST(b.event_id * {_PERM_K}
                      + s.seed AS VARCHAR)), 1, 15)) AS BIGINT) % o.n < o.n_a
                      THEN b.value END)
             - AVG(CASE WHEN CAST(concat('0x', substr(md5(CAST(b.event_id * {_PERM_K}
                      + s.seed AS VARCHAR)), 1, 15)) AS BIGINT) % o.n >= o.n_a
                      THEN b.value END) AS d
      FROM base b
      CROSS JOIN (SELECT unnest(generate_series(0, {_PERM_K - 1})) AS seed) s
      CROSS JOIN obs o
      GROUP BY s.seed
    )
    SELECT CAST((SELECT n FROM obs) AS BIGINT) AS n,
           ROUND((SELECT d FROM obs), 4) AS observed_diff,
           CAST(SUM(CASE WHEN ROUND(ABS(p.d), 6) >= ROUND(ABS((SELECT d FROM obs)), 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           ROUND(SUM(CASE WHEN ROUND(ABS(p.d), 6) >= ROUND(ABS((SELECT d FROM obs)), 6)
                          THEN 1.0 ELSE 0.0 END) / {_PERM_K}, 4) AS p_value
    FROM perms p
    """,
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the click-vs-view mean-value difference:
    {_PERM_K} md5-seeded pseudo-permutations reassign each row to group A
    with the observed group-A share (Bernoulli relabeling — the standard
    approximate permutation test; exact permutation needs a global
    shuffle-sort per replicate), and the p-value is the share of
    replicates whose |mean difference| reaches the observed one. The
    distribution-free alternative to `agg_welch_ttest` when normality is
    doubtful.

    Scale: the replicate axis is a {_PERM_K}-element explode on top of one
    linear pass — map-side partial aggregation collapses it to
    O({_PERM_K}) rows before the only shuffle; no window, no sort, no
    driver state. Determinism: the replicate assignment hashes
    (event_id, seed) through md5 identically in both engines."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    base = ev.select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    obs = base.agg(
        (
            F.avg(F.when(F.col("is_a") == 1, F.col("value")))
            - F.avg(F.when(F.col("is_a") == 0, F.col("value")))
        ).alias("d_obs"),
        F.sum("is_a").alias("n_a"),
        F.count(F.lit(1)).alias("n"),
    )
    seeds = spark.range(_PERM_K).select(F.col("id").cast("int").alias("seed"))
    hashed = (
        base.crossJoin(F.broadcast(seeds))
        .crossJoin(F.broadcast(obs))
        .select(
            "seed",
            "value",
            "d_obs",
            "n",
            "n_a",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            (F.col("event_id") * _PERM_K + F.col("seed")).cast("string")
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("h"),
        )
    )
    perms = hashed.groupBy("seed").agg(
        (
            F.avg(F.when(F.col("h") < F.col("n_a"), F.col("value")))
            - F.avg(F.when(F.col("h") >= F.col("n_a"), F.col("value")))
        ).alias("d"),
        F.first("d_obs").alias("d_obs"),
        F.first("n").alias("n"),
    )
    # 6dp rounding before the extremity comparison on BOTH engines: Spark's
    # partial-aggregation fold order can differ from DuckDB's sequential sum,
    # so a near-tie replicate could otherwise flip n_extreme (ESD convention).
    extreme = F.round(F.abs(F.col("d")), 6) >= F.round(F.abs(F.col("d_obs")), 6)
    return perms.agg(
        F.first("n").cast("long").alias("n"),
        F.round(F.first("d_obs"), 4).alias("observed_diff"),
        F.sum(F.when(extreme, 1).otherwise(0)).cast("long").alias("n_extreme"),
        F.round(
            F.sum(F.when(extreme, 1.0).otherwise(0.0)) / _PERM_K,
            4,
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Pinball-loss evaluation for quantile forecasts (round 9)
# ---------------------------------------------------------------------------
_PIN_SPLIT_DAY = 21  # train on days < 21, evaluate on the rest


@register(
    "ml_quantile_pinball",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             SUM(value) AS v
      FROM events GROUP BY 1, 2
    ),
    fc AS (
      SELECT event_type,
             quantile_cont(v, 0.1) AS q10,
             quantile_cont(v, 0.5) AS q50,
             quantile_cont(v, 0.9) AS q90
      FROM daily WHERE d < {_PIN_SPLIT_DAY} GROUP BY 1
    ),
    q AS (
      SELECT event_type, CAST(0.1 AS DOUBLE) AS tau, q10 AS f FROM fc
      UNION ALL SELECT event_type, CAST(0.5 AS DOUBLE), q50 FROM fc
      UNION ALL SELECT event_type, CAST(0.9 AS DOUBLE), q90 FROM fc
    )
    SELECT q.event_type, q.tau, ROUND(q.f, 4) AS forecast,
           CAST(COUNT(*) AS BIGINT) AS n_test_days,
           ROUND(AVG(CASE WHEN t.v >= q.f THEN q.tau * (t.v - q.f)
                          ELSE (q.tau - 1) * (t.v - q.f) END), 4)
             AS pinball_loss
    FROM q JOIN daily t ON t.event_type = q.event_type
    WHERE t.d >= {_PIN_SPLIT_DAY}
    GROUP BY q.event_type, q.tau, q.f
    """,
)
def ml_quantile_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss scoring of a naive per-type quantile
    forecast: train-window exact quantiles of the daily value series
    become the q10/q50/q90 forecasts, evaluated on the holdout days with
    the asymmetric pinball loss — the scoring rule every probabilistic
    forecaster (demand, capacity, SLO latency) is graded with; a proper
    forecast has q50 loss below the tails and q10/q90 losses reflecting
    the distribution's asymmetry (companion to `events_forecast_backtest`,
    which scores POINT forecasts).

    Scale: daily series partial-aggregates first (the only stage that
    sees event volume); quantiles are exact percentiles over O(days)
    rows per type; the eval join is O(types x 3) broadcast against
    O(types x days). Interpolated quantiles match across engines on
    identical doubles; losses ROUND(4)."""
    daily = daily_value_series(spark, sf_dir)
    fc = (
        daily.filter(F.col("d") < _PIN_SPLIT_DAY)
        .groupBy("event_type")
        .agg(
            F.percentile("v", F.lit(0.1)).alias("q10"),
            F.percentile("v", F.lit(0.5)).alias("q50"),
            F.percentile("v", F.lit(0.9)).alias("q90"),
        )
    )
    q = (
        fc.select("event_type", F.lit(0.1).alias("tau"), F.col("q10").alias("f"))
        .unionByName(
            fc.select("event_type", F.lit(0.5).alias("tau"), F.col("q50").alias("f"))
        )
        .unionByName(
            fc.select("event_type", F.lit(0.9).alias("tau"), F.col("q90").alias("f"))
        )
    )
    test = daily.filter(F.col("d") >= _PIN_SPLIT_DAY)
    err = F.col("v") - F.col("f")
    return (
        test.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "tau", "f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_days"),
            F.round(
                F.avg(
                    F.when(err >= 0, F.col("tau") * err).otherwise(
                        (F.col("tau") - 1) * err
                    )
                ),
                4,
            ).alias("pinball_loss"),
        )
        .select(
            "event_type",
            "tau",
            F.round("f", 4).alias("forecast"),
            "n_test_days",
            "pinball_loss",
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (round 9)
# ---------------------------------------------------------------------------
_DID_POST_DAY = 15
_DID_LIFT = 1.10


@register(
    "ml_did_estimator",
    oracle=f"""
    WITH base AS (
      SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS treat,
             CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       >= {_DID_POST_DAY} THEN 1 ELSE 0 END AS post,
             value
      FROM events
    ),
    sc AS (
      SELECT 'null' AS scenario, treat, post, value AS v FROM base
      UNION ALL
      SELECT 'lift', treat, post,
             CASE WHEN treat = 1 AND post = 1 THEN value * {_DID_LIFT}
                  ELSE value END
      FROM base
    ),
    cells AS (
      SELECT scenario, treat, post, AVG(v) AS m, CAST(COUNT(*) AS BIGINT) AS n
      FROM sc GROUP BY 1, 2, 3
    )
    SELECT scenario,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(MAX(CASE WHEN treat = 0 AND post = 0 THEN m END), 4)
             AS mean_ctrl_pre,
           ROUND(MAX(CASE WHEN treat = 0 AND post = 1 THEN m END), 4)
             AS mean_ctrl_post,
           ROUND(MAX(CASE WHEN treat = 1 AND post = 0 THEN m END), 4)
             AS mean_treat_pre,
           ROUND(MAX(CASE WHEN treat = 1 AND post = 1 THEN m END), 4)
             AS mean_treat_post,
           ROUND((MAX(CASE WHEN treat = 1 AND post = 1 THEN m END)
                  - MAX(CASE WHEN treat = 1 AND post = 0 THEN m END))
                 - (MAX(CASE WHEN treat = 0 AND post = 1 THEN m END)
                    - MAX(CASE WHEN treat = 0 AND post = 0 THEN m END)), 4)
             AS did
    FROM cells GROUP BY scenario
    """,
)
def ml_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treatment assigned by user-id hash,
    post period from day {_DID_POST_DAY}, estimate = (treat post−pre) −
    (control post−pre) — the parallel-trends causal workhorse when
    randomized assignment isn't available. Two scenarios share one pass:
    'null' (no effect injected; DiD ≈ 0, the placebo check) and 'lift'
    (a deterministic {_DID_LIFT}x multiplier on treated-post rows; DiD
    recovers the implied absolute lift) — both branches of the decision
    are live at the driver tier, the `ml_proportion_ztest` convention.

    Scale: one linear pass fans out to the 2-scenario union, collapses
    map-side to 8 (scenario, treat, post) cells, then a 2-row pivot
    reduce. Assignment hashes user_id through md5 identically in both
    engines; all means ROUND(4)."""
    ev = load(spark, sf_dir, "events")
    treat = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    ).alias("treat")
    post = (
        F.when(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            >= _DID_POST_DAY,
            1,
        )
        .otherwise(0)
        .alias("post")
    )
    base = ev.select(treat, post, "value")
    sc = base.select(
        F.lit("null").alias("scenario"), "treat", "post", F.col("value").alias("v")
    ).unionByName(
        base.select(
            F.lit("lift").alias("scenario"),
            "treat",
            "post",
            F.when(
                (F.col("treat") == 1) & (F.col("post") == 1),
                F.col("value") * _DID_LIFT,
            )
            .otherwise(F.col("value"))
            .alias("v"),
        )
    )
    cells = sc.groupBy("scenario", "treat", "post").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).cast("long").alias("n")
    )

    def cell(t: int, p: int):
        return F.max(F.when((F.col("treat") == t) & (F.col("post") == p), F.col("m")))

    return cells.groupBy("scenario").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.round(cell(0, 0), 4).alias("mean_ctrl_pre"),
        F.round(cell(0, 1), 4).alias("mean_ctrl_post"),
        F.round(cell(1, 0), 4).alias("mean_treat_pre"),
        F.round(cell(1, 1), 4).alias("mean_treat_post"),
        F.round((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0)), 4).alias("did"),
    )


# ---------------------------------------------------------------------------
# Regression discontinuity (local linear, sharp design) (round 9)
# ---------------------------------------------------------------------------
_RD_CUTOFF = 250_000.0  # running variable: o_totalprice
_RD_BW = 100_000.0      # local-linear bandwidth each side
_RD_JUMP = 2.0          # injected effect for the constructed scenario


@register(
    "ml_regression_discontinuity",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, CAST(COUNT(*) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    base AS (
      SELECT (o.o_totalprice - {_RD_CUTOFF}) AS x,
             CASE WHEN o.o_totalprice >= {_RD_CUTOFF} THEN 1 ELSE 0 END AS rt,
             li.y
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
      WHERE o.o_totalprice >= {_RD_CUTOFF} - {_RD_BW}
        AND o.o_totalprice < {_RD_CUTOFF} + {_RD_BW}
    ),
    sc AS (
      SELECT 'null' AS scenario, x, rt, y FROM base
      UNION ALL
      SELECT 'jump', x, rt,
             y + CASE WHEN rt = 1 THEN {_RD_JUMP} ELSE 0 END
      FROM base
    ),
    fit AS (
      SELECT scenario, rt, CAST(COUNT(*) AS BIGINT) AS n,
             (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
             / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS slope,
             SUM(y) / COUNT(*) AS ybar, SUM(x) / COUNT(*) AS xbar
      FROM sc GROUP BY 1, 2
    ),
    ic AS (
      SELECT scenario, rt, n, slope, ybar - slope * xbar AS icpt FROM fit
    )
    SELECT scenario,
           CAST(MAX(CASE WHEN rt = 0 THEN n END) AS BIGINT) AS n_left,
           CAST(MAX(CASE WHEN rt = 1 THEN n END) AS BIGINT) AS n_right,
           ROUND(MAX(CASE WHEN rt = 0 THEN icpt END), 4) AS limit_left,
           ROUND(MAX(CASE WHEN rt = 1 THEN icpt END), 4) AS limit_right,
           ROUND(MAX(CASE WHEN rt = 1 THEN icpt END)
                 - MAX(CASE WHEN rt = 0 THEN icpt END), 4) AS rd_effect
    FROM ic GROUP BY scenario
    """,
)
def ml_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity at o_totalprice = {_RD_CUTOFF:,.0f}:
    local linear fits on each side of the cutoff (bandwidth
    {_RD_BW:,.0f}), effect = right-limit − left-limit of the fitted
    conditional mean — the quasi-experimental design for threshold rules
    (free shipping over X, credit over a score). Outcome: lineitems per
    order. Two scenarios share the pass: 'null' (no true jump; the
    placebo) and 'jump' (deterministic +{_RD_JUMP} on the right side;
    the estimator must recover it exactly since the injected effect is
    constant) — both decision branches live at the driver tier.

    Scale: one fact-side count aggregate, a bandwidth filter that pushes
    into the orders scan, a 4-cell moment aggregate; the OLS algebra runs
    on 4 rows. Identical closed-form expressions in both engines."""
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= _RD_CUTOFF - _RD_BW)
        & (F.col("o_totalprice") < _RD_CUTOFF + _RD_BW)
    )
    base = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_totalprice") - _RD_CUTOFF).alias("x"),
        F.when(F.col("o_totalprice") >= _RD_CUTOFF, 1).otherwise(0).alias("rt"),
        "y",
    )
    sc = base.select(
        F.lit("null").alias("scenario"), "x", "rt", "y"
    ).unionByName(
        base.select(
            F.lit("jump").alias("scenario"),
            "x",
            "rt",
            (F.col("y") + F.when(F.col("rt") == 1, _RD_JUMP).otherwise(0.0)).alias("y"),
        )
    )
    n = F.count(F.lit(1))
    fit = sc.groupBy("scenario", "rt").agg(
        n.cast("long").alias("n"),
        (
            (F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
        ).alias("slope"),
        (F.sum("y") / n).alias("ybar"),
        (F.sum("x") / n).alias("xbar"),
    )
    ic = fit.select(
        "scenario", "rt", "n",
        (F.col("ybar") - F.col("slope") * F.col("xbar")).alias("icpt"),
    )
    left = F.max(F.when(F.col("rt") == 0, F.col("icpt")))
    right = F.max(F.when(F.col("rt") == 1, F.col("icpt")))
    return ic.groupBy("scenario").agg(
        F.max(F.when(F.col("rt") == 0, F.col("n"))).cast("long").alias("n_left"),
        F.max(F.when(F.col("rt") == 1, F.col("n"))).cast("long").alias("n_right"),
        F.round(left, 4).alias("limit_left"),
        F.round(right, 4).alias("limit_right"),
        F.round(right - left, 4).alias("rd_effect"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration via pool-adjacent-violators (round 9)
# ---------------------------------------------------------------------------


@register(
    "ml_isotonic_pav",
    oracle=f"""
    WITH per AS (
      SELECT LEAST(9, CAST(FLOOR(o_totalprice / {_CAL_BINW}) AS BIGINT)) AS bin,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS DOUBLE) AS w, SUM(label) AS s
      FROM per GROUP BY bin
    ),
    boxed AS (
      SELECT list_transform(list(struct_pack(b := bin, w := w, s := s)
                                 ORDER BY bin),
                            x -> [struct_pack(w := x.w, s := x.s)]) AS items
      FROM bins
    ),
    pav AS (
      SELECT list_reduce(
               list_prepend(CAST([] AS STRUCT(w DOUBLE, s DOUBLE)[]), items),
               (acc, e) -> list_reduce(
                 list_prepend(list_append(acc, e[1]),
                   list_transform(generate_series(1, 10),
                                  i -> CAST([] AS STRUCT(w DOUBLE, s DOUBLE)[]))),
                 (st, dummy) -> CASE
                   WHEN len(st) >= 2
                        AND st[len(st) - 1].s / st[len(st) - 1].w
                            > st[len(st)].s / st[len(st)].w
                   THEN list_append(st[1:len(st) - 2],
                          struct_pack(
                            w := st[len(st) - 1].w + st[len(st)].w,
                            s := st[len(st) - 1].s + st[len(st)].s))
                   ELSE st END
               )
             ) AS pools
      FROM boxed
    )
    SELECT CAST(p.i AS BIGINT) AS pool_id,
           CAST(p.pool.w AS BIGINT) AS n_rows,
           ROUND(p.pool.s / p.pool.w, 6) AS calibrated_p
    FROM (
      SELECT unnest(pools) AS pool,
             unnest(generate_series(1, len(pools))) AS i
      FROM pav
    ) p
    """,
)
def ml_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration by pool-adjacent-violators over the 10 fixed
    score bins of `ml_calibration_bins`: walk the bins in score order,
    pooling any adjacent bins whose empirical positive rates violate
    monotonicity, until the fitted step function is nondecreasing — the
    nonparametric calibrator (Zadrozny-Elkan) that `ml_calibration_bins`
    diagnoses the need for. Output: one row per surviving pool with its
    row weight and calibrated probability (monotone by construction —
    pinned in tests/test_round9_ops.py).

    PAV is sequential, but over BINS, not rows: the raw table collapses
    to 10 (weight, positive-sum) pairs in one partial-aggregating pass,
    and the PAV stack fold runs in-row on that 10-element array — the
    same nested-sequential-fold machinery as `events_dtw_distance`
    (outer fold pushes a bin, bounded inner fold cascades merges), with
    an IDENTICAL op sequence in both engines so the pooled doubles
    match exactly. At 100 TB nothing changes: bins stay 10."""
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = load(spark, sf_dir, "orders").select(
        F.least(F.lit(9), F.floor(F.col("o_totalprice") / _CAL_BINW)).alias("bin"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    bins = per.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("w"), F.sum("label").alias("s")
    )
    boxed = bins.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bin", "w", "s"))),
            lambda x: F.array(F.struct(x["w"].alias("w"), x["s"].alias("s"))),
        ).alias("items")
    )

    def last(st, k=0):  # element_at from the end (k=0 -> last)
        return F.element_at(st, F.size(st) - k)

    def cascade(st):
        viol = (F.size(st) >= 2) & (
            last(st, 1)["s"] / last(st, 1)["w"] > last(st, 0)["s"] / last(st, 0)["w"]
        )
        merged = F.concat(
            F.slice(st, 1, F.size(st) - 2),
            F.array(
                F.struct(
                    (last(st, 1)["w"] + last(st, 0)["w"]).alias("w"),
                    (last(st, 1)["s"] + last(st, 0)["s"]).alias("s"),
                )
            ),
        )
        return F.when(viol, merged).otherwise(st)

    empty = F.slice(F.col("items")[0], 1, 0)  # empty array<struct<w,s>>
    pav = boxed.select(
        F.aggregate(
            F.col("items"),
            empty,
            lambda acc, e: F.aggregate(
                F.sequence(F.lit(1), F.lit(10)),
                F.concat(acc, e),
                lambda st, _i: cascade(st),
            ),
        ).alias("pools")
    )
    return pav.select(
        F.posexplode("pools").alias("i0", "pool")
    ).select(
        (F.col("i0") + 1).cast("long").alias("pool_id"),
        F.col("pool")["w"].cast("long").alias("n_rows"),
        F.round(F.col("pool")["s"] / F.col("pool")["w"], 6).alias("calibrated_p"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (round 10)
# ---------------------------------------------------------------------------
_KW_BIN = 500  # price-bucket width shared with the AUC/Mann-Whitney family


@register(
    "agg_kruskal_wallis",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(o_totalprice / {_KW_BIN}) AS BIGINT) AS bucket
      FROM orders
    ),
    hist AS (
      SELECT grp, bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM per GROUP BY 1, 2
    ),
    btot AS (
      SELECT bucket, SUM(c) AS t FROM hist GROUP BY bucket
    ),
    mid AS (
      SELECT bucket, t,
             SUM(t) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - t + (t + 1) / 2.0 AS midrank
      FROM btot
    ),
    g AS (
      SELECT h.grp, SUM(h.c) AS n_g, SUM(h.c * m.midrank) AS rsum
      FROM hist h JOIN mid m USING (bucket)
      GROUP BY h.grp
    ),
    tot AS (SELECT SUM(n_g) AS n,
                   SUM(rsum) * 0 + (SELECT SUM((t*t*t - t)) FROM btot) AS tie3
            FROM g)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
           CAST(COUNT(*) - 1 AS INT) AS df,
           ROUND(
             (12.0 / ((SELECT n FROM tot) * ((SELECT n FROM tot) + 1))
              * SUM(rsum * rsum / n_g)
              - 3 * ((SELECT n FROM tot) + 1))
             / (1 - (SELECT tie3 FROM tot)
                    / ((SELECT n FROM tot) * (SELECT n FROM tot)
                       * (SELECT n FROM tot) - (SELECT n FROM tot))),
             6) AS h_stat
    FROM g
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (1952) — one-way rank ANOVA of order price across
    the 5 order priorities, the k-group extension of `agg_mann_whitney`
    (same {_KW_BIN}-wide price buckets, same midrank-from-histogram
    identity) with the standard tie correction 1 - sum(t^3 - t)/(n^3 - n)
    (buckets tie by construction, so the correction is material here,
    unlike the two-sample z where it was documented noise). The fixture's
    price is independent of priority, so H sits near its chi-square(4)
    null mean of 4.

    Plan: one O(rows) projection -> (group, bucket) histogram -> O(buckets)
    cumulative window for midranks -> O(groups) rollup. The shuffle
    carries bucket cardinality (~1.2k rows), never the order rows; at
    100 TB the histogram contraction is what makes exact rank tests
    feasible (the alternative — a global sort for exact ranks — is the
    one shape this family exists to avoid)."""
    o = load(spark, sf_dir, "orders")
    per = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") / _KW_BIN).cast("long").alias("bucket"),
    )
    hist = per.groupBy("grp", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    btot = hist.groupBy("bucket").agg(F.sum("c").alias("t"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mid = btot.select(
        "bucket",
        "t",
        (F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0).alias("midrank"),
    )
    g = (
        hist.join(mid.select("bucket", "midrank"), "bucket")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c") * F.col("midrank")).alias("rsum"),
        )
    )
    ties = btot.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3")
    )
    return (
        g.crossJoin(F.broadcast(ties))
        .agg(
            F.sum("n_g").cast("long").alias("n"),
            (F.count(F.lit(1)) - 1).cast("int").alias("df"),
            F.round(
                (
                    12.0
                    / (F.sum("n_g") * (F.sum("n_g") + 1))
                    * F.sum(F.col("rsum") * F.col("rsum") / F.col("n_g"))
                    - 3 * (F.sum("n_g") + 1)
                )
                / (
                    1
                    - F.first("tie3")
                    / (
                        F.sum("n_g") * F.sum("n_g") * F.sum("n_g")
                        - F.sum("n_g")
                    )
                ),
                6,
            ).alias("h_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Cramer's V categorical association (round 10)
# ---------------------------------------------------------------------------


@register(
    "agg_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM orders GROUP BY 1, 2
    ),
    rm AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY r),
    cm AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY c),
    n AS (SELECT SUM(o) AS n FROM cells),
    chi AS (
      SELECT SUM((cells.o - rm.rt * cm.ct / n.n)
                 * (cells.o - rm.rt * cm.ct / n.n)
                 / (rm.rt * cm.ct / n.n)) AS chi2,
             (SELECT COUNT(*) FROM rm) AS nr,
             (SELECT COUNT(*) FROM cm) AS nc,
             ANY_VALUE(n.n) AS n
      FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN n
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((nr - 1) * (nc - 1) AS INT) AS df,
           ROUND(chi2, 6) AS chi2,
           ROUND(sqrt(chi2 / (n * (CASE WHEN nr < nc THEN nr ELSE nc END - 1))), 6)
             AS cramers_v
    FROM chi
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V (1946) — chi-square association strength between order
    priority (5 levels) and order status (3 levels), normalized to [0, 1]
    by n*(min(r,c)-1) so the effect size is comparable across tables of
    any shape — the categorical complement to `agg_corr_matrix`
    (`agg_chisq` reports the raw statistic; V answers "how strong", which
    is what a feature-selection pass over a 100 TB catalog actually
    ranks by).

    Plan: one (r, c) cell histogram (the only O(rows) shuffle, ~15 cells
    out), margins as two O(cells) rollups broadcast back, expected counts
    and the chi-square fold computed cell-side. No windows, no sort."""
    o = load(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    rm = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    cm = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    nr = rm.agg(F.count(F.lit(1)).alias("nr"))
    nc = cm.agg(F.count(F.lit(1)).alias("nc"))
    n = cells.agg(F.sum("o").alias("n"))
    exp = F.col("rt") * F.col("ct") / F.col("n")
    return (
        cells.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .agg(
            F.first("n").cast("long").alias("n"),
            ((F.first("nr") - 1) * (F.first("nc") - 1)).cast("int").alias("df"),
            F.round(F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 6).alias(
                "chi2"
            ),
            F.round(
                F.sqrt(
                    F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp)
                    / (F.first("n") * (F.least(F.first("nr"), F.first("nc")) - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# McNemar paired-classifier test (round 10)
# ---------------------------------------------------------------------------
_MCN_PRICE_CUT = 150_000.0  # classifier A: predicts 'F' when price below cut
_MCN_DATE_CUT = "1995-01-01"  # classifier B: predicts 'F' when ordered before


@register(
    "ml_mcnemar_test",
    oracle=f"""
    WITH per AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CASE WHEN o_totalprice < {_MCN_PRICE_CUT} THEN 1 ELSE 0 END AS a,
             CASE WHEN CAST(o_orderdate AS TIMESTAMP)
                       < TIMESTAMP '{_MCN_DATE_CUT} 00:00:00' THEN 1 ELSE 0 END AS b
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS b01,
           CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS c10,
           ROUND(AVG(CASE WHEN a = y THEN 1.0 ELSE 0.0 END), 6) AS acc_a,
           ROUND(AVG(CASE WHEN b = y THEN 1.0 ELSE 0.0 END), 6) AS acc_b,
           ROUND(
             (ABS(SUM(CASE WHEN a = y AND b <> y THEN 1.0 ELSE 0.0 END)
                  - SUM(CASE WHEN a <> y AND b = y THEN 1.0 ELSE 0.0 END)) - 1)
             * (ABS(SUM(CASE WHEN a = y AND b <> y THEN 1.0 ELSE 0.0 END)
                    - SUM(CASE WHEN a <> y AND b = y THEN 1.0 ELSE 0.0 END)) - 1)
             / (SUM(CASE WHEN a = y AND b <> y THEN 1.0 ELSE 0.0 END)
                + SUM(CASE WHEN a <> y AND b = y THEN 1.0 ELSE 0.0 END)),
             6) AS chi2_mcnemar
    FROM per
    """,
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (1947) — do two classifiers evaluated on the SAME
    rows disagree more in one direction than the other? The standard way
    to compare models on a shared eval set (a paired test on the b/c
    discordant cells; accuracy deltas alone ignore the pairing). Here
    classifier A (price < {_MCN_PRICE_CUT:,.0f}) and classifier B
    (ordered before {_MCN_DATE_CUT}) both predict order status 'F';
    reports the discordant counts, both accuracies, and the continuity-
    corrected chi-square (|b-c| - 1)^2 / (b+c) on 1 df.

    Plan: single-pass conditional aggregation — 8 sums over one
    projection, no shuffle beyond the 1-row final agg. At 100 TB this is
    the cheapest possible model-comparison query; everything after the
    scan is map-side."""
    o = load(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    a = F.when(F.col("o_totalprice") < _MCN_PRICE_CUT, 1).otherwise(0)
    b = F.when(
        F.col("o_orderdate") < F.lit(f"{_MCN_DATE_CUT} 00:00:00").cast("timestamp"),
        1,
    ).otherwise(0)
    per = o.select(y.alias("y"), a.alias("a"), b.alias("b"))
    b01 = F.sum(
        F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1.0).otherwise(
            0.0
        )
    )
    c10 = F.sum(
        F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1.0).otherwise(
            0.0
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        b01.cast("long").alias("b01"),
        c10.cast("long").alias("c10"),
        F.round(
            F.avg(F.when(F.col("a") == F.col("y"), 1.0).otherwise(0.0)), 6
        ).alias("acc_a"),
        F.round(
            F.avg(F.when(F.col("b") == F.col("y"), 1.0).otherwise(0.0)), 6
        ).alias("acc_b"),
        F.round((F.abs(b01 - c10) - 1) * (F.abs(b01 - c10) - 1) / (b01 + c10), 6).alias(
            "chi2_mcnemar"
        ),
    )


# ---------------------------------------------------------------------------
# TOST equivalence test (round 10)
# ---------------------------------------------------------------------------
_TOST_MARGIN = 5.0  # equivalence margin on the click-vs-view mean value


@register(
    "ml_tost_equivalence",
    oracle=f"""
    WITH g AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
             value
      FROM events WHERE event_type IN ('click', 'view')
    ),
    s AS (
      SELECT is_a, COUNT(*) AS n, AVG(value) AS m,
             VAR_SAMP(value) AS v
      FROM g GROUP BY is_a
    ),
    w AS (
      SELECT (SELECT m FROM s WHERE is_a = 1) - (SELECT m FROM s WHERE is_a = 0)
               AS diff,
             sqrt((SELECT v / n FROM s WHERE is_a = 1)
                  + (SELECT v / n FROM s WHERE is_a = 0)) AS se
    )
    SELECT ROUND(diff, 4) AS diff,
           ROUND(se, 4) AS se,
           ROUND((diff + {_TOST_MARGIN}) / se, 4) AS t_lower,
           ROUND((diff - {_TOST_MARGIN}) / se, 4) AS t_upper,
           CAST(((diff + {_TOST_MARGIN}) / se > 1.6449
                 AND (diff - {_TOST_MARGIN}) / se < -1.6449) AS BOOLEAN)
             AS equivalent
    FROM w
    """,
)
def ml_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two One-Sided Tests (Schuirmann 1987) — the equivalence complement
    to `agg_welch_ttest`: instead of asking "is there a difference?", ask
    "is the click-vs-view mean difference provably WITHIN +/-{_TOST_MARGIN}?"
    (the question an A/B guardrail or a model-swap no-regression check
    actually needs — failing to reject a difference is not evidence of
    equivalence). Both one-sided Welch statistics must clear the 5%
    normal critical value 1.6449 (df is in the thousands, so the t and
    normal quantiles agree to 4dp).

    Plan: one grouped pass for (n, mean, variance) per arm — Welch's
    exchange exactly — then scalar algebra on a broadcast 2-row frame.
    Nothing here grows with data volume except the first partial agg."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.groupBy(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    wide = s.groupBy().pivot("is_a", [0, 1]).agg(
        F.first("n").alias("n"), F.first("m").alias("m"), F.first("v").alias("v")
    )
    diff = F.col("1_m") - F.col("0_m")
    se = F.sqrt(F.col("1_v") / F.col("1_n") + F.col("0_v") / F.col("0_n"))
    return wide.select(
        F.round(diff, 4).alias("diff"),
        F.round(se, 4).alias("se"),
        F.round((diff + _TOST_MARGIN) / se, 4).alias("t_lower"),
        F.round((diff - _TOST_MARGIN) / se, 4).alias("t_upper"),
        (
            ((diff + _TOST_MARGIN) / se > 1.6449)
            & ((diff - _TOST_MARGIN) / se < -1.6449)
        ).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# Youden-J optimal threshold (round 10)
# ---------------------------------------------------------------------------


@register(
    "ml_youden_threshold",
    oracle=f"""
    WITH per AS (
      SELECT CAST(FLOOR(o_totalprice / {_AUC_BIN}) AS BIGINT) AS bucket,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    hist AS (
      SELECT bucket,
             CAST(SUM(label) AS DOUBLE) AS pos,
             CAST(COUNT(*) - SUM(label) AS DOUBLE) AS neg
      FROM per GROUP BY bucket
    ),
    tot AS (SELECT SUM(pos) AS np, SUM(neg) AS nn FROM hist),
    cum AS (
      SELECT bucket,
             SUM(pos) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pos_upto,
             SUM(neg) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS neg_upto
      FROM hist
    ),
    j AS (
      SELECT bucket,
             ROUND((t.np - pos_upto) / t.np, 6) AS tpr,
             ROUND((t.nn - neg_upto) / t.nn, 6) AS fpr
      FROM cum CROSS JOIN tot t
    )
    SELECT CAST(bucket + 1 AS BIGINT) AS threshold_bucket,
           ROUND(tpr - fpr, 6) AS youden_j, tpr, fpr
    FROM j
    ORDER BY ROUND(tpr - fpr, 6) DESC, bucket
    LIMIT 1
    """,
)
def ml_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal operating point by Youden's J (1950): over the SAME
    {_AUC_BIN}-unit score histogram and constructed label as
    `ml_auc_roc`, evaluate "predict positive when bucket >= theta" at
    every cut and return the theta maximizing J = TPR - FPR — the
    standard threshold election after a model ships (AUC says the
    ranking is good; Youden says WHERE to cut it). Ties break toward the
    lower bucket.

    Plan: the order stream reduces to the O(buckets) histogram (the AUC
    exchange exactly); TPR/FPR at every cut are two cumulative windows
    over that histogram, and the argmax is a 1-row TakeOrdered. Streams
    through the same one-pass mergeable-histogram shape production ML
    monitors use for threshold sweeps."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        F.floor(F.col("o_totalprice") / _AUC_BIN).cast("long").alias("bucket"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1)
        .otherwise(0)
        .alias("label"),
    )
    hist = per.groupBy("bucket").agg(
        F.sum("label").cast("double").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("double").alias("neg"),
    )
    tot = hist.agg(F.sum("pos").alias("np"), F.sum("neg").alias("nn"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket",
        F.sum("pos").over(w).alias("pos_upto"),
        F.sum("neg").over(w).alias("neg_upto"),
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round((F.col("np") - F.col("pos_upto")) / F.col("np"), 6).alias("tpr"),
        F.round((F.col("nn") - F.col("neg_upto")) / F.col("nn"), 6).alias("fpr"),
    )
    return (
        j.select(
            (F.col("bucket") + 1).cast("long").alias("threshold_bucket"),
            F.round(F.col("tpr") - F.col("fpr"), 6).alias("youden_j"),
            "tpr",
            "fpr",
        )
        .orderBy(F.col("youden_j").desc(), F.col("threshold_bucket"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# ECE / MCE calibration summary (round 10)
# ---------------------------------------------------------------------------


@register(
    "ml_calibration_ece",
    oracle=f"""
    WITH per AS (
      SELECT LEAST(9, CAST(FLOOR(o_totalprice / {_CAL_BINW}) AS BIGINT)) AS bin,
             1.0 / (1.0 + EXP(-(o_totalprice - {_CAL_MID}) / {_CAL_SCALE}))
               AS score,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS label
      FROM orders
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(score) AS ms, AVG(label) AS fp,
             AVG((score - label) * (score - label)) AS brier
      FROM per GROUP BY bin
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS INT) AS n_bins,
           FLOOR(SUM(n * ABS(ms - fp)) / SUM(n) * 10000) / 10000 AS ece,
           FLOOR(MAX(ABS(ms - fp)) * 10000) / 10000 AS mce,
           FLOOR(SUM(n * brier) / SUM(n) * 10000) / 10000 AS brier
    FROM bins
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / Maximum Calibration Error (Guo et al. 2017) — the alert
    SCALARS over the same 10-bin reliability diagram as
    `ml_calibration_bins`: ECE = the n-weighted mean |confidence −
    accuracy| gap, MCE = the worst bin's gap, plus the overall Brier
    score. The bins entry is the dashboard; this is the number a
    monitoring threshold fires on (the two must come from the SAME
    binning, which is why they share every constant).

    Scale: identical exchange to the bins query — one O(rows) scan into a
    10-row mergeable aggregate, then a 1-row fold. FLOOR at 1e-4 after
    the fold (the per-bin averages carry full precision into the
    weighting, so this cannot drift from a re-derivation off the rounded
    bins output)."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    score = 1.0 / (
        1.0 + F.exp(-(F.col("o_totalprice") - _CAL_MID) / _CAL_SCALE)
    )
    per = o.select(
        F.least(
            F.lit(9), F.floor(F.col("o_totalprice") / _CAL_BINW).cast("long")
        ).alias("bin"),
        score.alias("score"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    bins = per.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("score").alias("ms"),
        F.avg("label").alias("fp"),
        F.avg(
            (F.col("score") - F.col("label")) * (F.col("score") - F.col("label"))
        ).alias("brier"),
    )
    f4 = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    gap = F.abs(F.col("ms") - F.col("fp"))
    return bins.agg(
        F.sum("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        f4(F.sum(F.col("n") * gap) / F.sum("n")).alias("ece"),
        f4(F.max(gap)).alias("mce"),
        f4(F.sum(F.col("n") * F.col("brier")) / F.sum("n")).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effect (round 10)
# ---------------------------------------------------------------------------
_QTE_BINW = 2.0  # value-bucket width for the mergeable ECDF
_QTE_QS = (0.25, 0.5, 0.75, 0.9)


@register(
    "agg_quantile_treatment_effect",
    oracle=f"""
    WITH per AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp,
             CAST(FLOOR(value / {_QTE_BINW}) AS BIGINT) AS bucket
      FROM events WHERE event_type IN ('click', 'view')
    ),
    hist AS (
      SELECT grp, bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM per GROUP BY 1, 2
    ),
    cum AS (
      SELECT grp, bucket,
             SUM(c) OVER (PARTITION BY grp ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(c) OVER (PARTITION BY grp) AS cdf
      FROM hist
    ),
    qs AS (SELECT UNNEST([{", ".join(str(q) for q in _QTE_QS)}]) AS q),
    inv AS (
      SELECT qs.q, cum.grp, MIN(cum.bucket) AS qb
      FROM qs JOIN cum ON cum.cdf >= qs.q
      GROUP BY qs.q, cum.grp
    )
    SELECT CAST(t.q AS DOUBLE) AS q,
           ROUND(CAST((t.qb + 1) * {_QTE_BINW} AS DOUBLE), 2) AS q_treat,
           ROUND(CAST((c.qb + 1) * {_QTE_BINW} AS DOUBLE), 2) AS q_control,
           ROUND(CAST((t.qb - c.qb) * {_QTE_BINW} AS DOUBLE), 2) AS qte
    FROM inv t JOIN inv c ON t.q = c.q AND t.grp = 1 AND c.grp = 0
    """,
)
def agg_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the per-quantile difference between the
    click ("treatment") and view ("control") value distributions at
    q = {_QTE_QS}: where in the distribution the lift lives, which a mean
    difference (`agg_welch_ttest`) averages away (classic A/B case: a
    heavy-tail treatment moves p90 but not the median). Quantiles invert
    a {_QTE_BINW}-unit bucketed ECDF — the same mergeable-histogram
    discipline as the AUC/KS/Mann-Whitney family, which is what makes QTE
    one-pass and exact-to-bucket-width on any data volume; reported
    values are bucket upper edges, identical in both engines by
    construction.

    Plan: one (group, bucket) histogram shuffle; two O(buckets) windows;
    the quantile inversion joins the tiny q-grid against the cumulative
    table and takes a MIN per (q, group). Nothing after the histogram
    scales with rows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per = ev.select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("grp"),
        F.floor(F.col("value") / _QTE_BINW).cast("long").alias("bucket"),
    )
    hist = per.groupBy("grp", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "bucket",
        (F.sum("c").over(wcum) / F.sum("c").over(wall)).alias("cdf"),
    )
    qs = spark.sql(
        "SELECT col1 AS q FROM (VALUES "
        + ", ".join(f"({q})" for q in _QTE_QS)
        + ")"
    )
    inv = (
        cum.join(F.broadcast(qs), F.col("cdf") >= F.col("q"))
        .groupBy("q", "grp")
        .agg(F.min("bucket").alias("qb"))
    )
    t = inv.filter(F.col("grp") == 1).alias("t")
    c = inv.filter(F.col("grp") == 0).alias("c")
    return t.join(c, F.col("t.q") == F.col("c.q")).select(
        F.col("t.q").cast("double").alias("q"),
        F.round((F.col("t.qb") + 1) * _QTE_BINW, 2).alias("q_treat"),
        F.round((F.col("c.qb") + 1) * _QTE_BINW, 2).alias("q_control"),
        F.round((F.col("t.qb") - F.col("c.qb")) * _QTE_BINW, 2).alias("qte"),
    )


# ---------------------------------------------------------------------------
# Wilson score confidence intervals for proportions (round 11)
# ---------------------------------------------------------------------------
_WILSON_Z = 1.959964  # two-sided 95%


@register(
    "agg_wilson_ci",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n,
           CAST(x AS BIGINT) AS n_filled,
           ROUND(x / n, 6) AS p_hat,
           ROUND((x / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  - {_WILSON_Z} * sqrt((x / n) * (1 - x / n) / n
                      + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_lo,
           ROUND((x / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  + {_WILSON_Z} * sqrt((x / n) * (1 - x / n) / n
                      + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_hi
    FROM s
    """,
)
def agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for the filled-order-rate
    proportion per order priority (Wilson 1927) — the interval every metrics
    platform should use instead of the Wald +/-1.96*sqrt(pq/n) textbook
    formula, which collapses to zero width at p=0/1 and undercovers
    badly for small n or extreme p; Wilson stays inside [0,1] and is
    the score-test inversion (Brown, Cai & DasGupta 2001 recommend it
    as the default). Complements `ml_proportion_ztest` (a two-sample
    decision) with the per-group estimation view.

    Plan: one partial-aggregating groupBy(priority) carrying two numbers
    per group; the interval algebra is all on the O(groups) frame. The
    identical closed form is spelled out in both engines (no engine CI
    builtins exist to diverge)."""
    o = load(spark, sf_dir, "orders")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("double")
        .alias("x"),
    )
    z = _WILSON_Z
    p = F.col("x") / F.col("n")
    n = F.col("n")
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    return s.select(
        "o_orderpriority",
        n.cast("long").alias("n"),
        F.col("x").cast("long").alias("n_filled"),
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Standardized effect sizes between two segments (round 11)
# ---------------------------------------------------------------------------
# center money values by a pinned constant before the moment sums: variance
# is shift-invariant, and uncentered sum(x^2) on ~1e5-magnitude prices loses
# ~10 significant digits to cancellation — the r6/r10 deep-sweep divergence
# class (6dp ROUND boundaries on large-magnitude doubles)
_EFF_CENTER = 150000.0
_EFF_G1, _EFF_G2 = "1-URGENT", "5-LOW"


@register(
    "agg_effect_sizes",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(o_totalprice - {_EFF_CENTER}) AS sx,
             SUM((o_totalprice - {_EFF_CENTER}) * (o_totalprice - {_EFF_CENTER}))
               AS sxx
      FROM orders WHERE o_orderpriority IN ('{_EFF_G1}', '{_EFF_G2}')
      GROUP BY 1
    ),
    w AS (
      SELECT
        MAX(CASE WHEN g = '{_EFF_G1}' THEN n END) AS n1,
        MAX(CASE WHEN g = '{_EFF_G2}' THEN n END) AS n2,
        MAX(CASE WHEN g = '{_EFF_G1}' THEN sx / n END) AS m1,
        MAX(CASE WHEN g = '{_EFF_G2}' THEN sx / n END) AS m2,
        MAX(CASE WHEN g = '{_EFF_G1}' THEN (sxx - sx * sx / n) / (n - 1) END) AS v1,
        MAX(CASE WHEN g = '{_EFF_G2}' THEN (sxx - sx * sx / n) / (n - 1) END) AS v2
      FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(m1 - m2, 4) AS mean_diff,
           ROUND((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                  / (n1 + n2 - 2)), 6) AS cohens_d,
           ROUND((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                  / (n1 + n2 - 2))
                 * (1 - 3 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
           ROUND((m1 - m2) / sqrt(v2), 6) AS glass_delta
    FROM w
    """,
)
def agg_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the order-value difference between
    '{_EFF_G1}' and '{_EFF_G2}' priority orders: Cohen's d (pooled-SD
    standardized mean difference), Hedges' g (d with the small-sample
    bias correction 1 - 3/(4N-9)), and Glass's delta (control-SD
    denominator) — what a significance test (`ml_proportion_ztest`,
    `agg_mann_whitney`) deliberately does not tell you: HOW LARGE the
    difference is in units a reader can calibrate (0.2 small / 0.5
    medium / 0.8 large). The fixture priorities are independent of
    price, so this is a TRUE-NULL family: d ~ 0 is the correct answer
    and any drift flags a fixture or formula bug.

    Cross-engine exactness: variances come from explicit centered moment
    sums (sum, sum-of-squares) around the PINNED constant
    {_EFF_CENTER:.0f} — shift-invariant algebra that keeps ~10
    significant digits that uncentered sums of squared prices would lose
    to cancellation (the r6/r10 deep-sweep divergence class), with both
    engines spelling the identical formula. One partial-aggregating
    groupBy carrying three numbers per group; everything after is
    O(groups)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_EFF_G1, _EFF_G2)
    )
    c = F.col("o_totalprice") - _EFF_CENTER
    s = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).alias("sx"),
        F.sum(c * c).alias("sxx"),
    )
    pick = lambda col: F.max(F.when(F.col("g") == _EFF_G1, F.col(col)))  # noqa: E731
    pick2 = lambda col: F.max(F.when(F.col("g") == _EFF_G2, F.col(col)))  # noqa: E731
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    s = s.withColumn("m", F.col("sx") / F.col("n")).withColumn("v", var)
    w = s.agg(
        pick("n").alias("n1"),
        pick2("n").alias("n2"),
        pick("m").alias("m1"),
        pick2("m").alias("m2"),
        pick("v").alias("v1"),
        pick2("v").alias("v2"),
    )
    pooled = F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2"))
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (F.col("m1") - F.col("m2")) / pooled
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1 - 3 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6).alias(
            "hedges_g"
        ),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(F.col("v2")), 6).alias(
            "glass_delta"
        ),
    )


# ---------------------------------------------------------------------------
# Fairness parity audit of the shared fixed classifier (round 11)
# ---------------------------------------------------------------------------


@register(
    "ml_fairness_parity",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority AS grp,
             CASE WHEN o_totalprice >= {_CAL_MID} THEN 1 ELSE 0 END AS pred,
             CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    g AS (
      SELECT grp,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(pred) AS DOUBLE) AS npred,
             CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tp,
             CAST(SUM(label) AS DOUBLE) AS npos,
             CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fp
      FROM per GROUP BY grp
    ),
    o AS (
      SELECT SUM(npred) / SUM(n) AS sel_all,
             SUM(tp) / SUM(npos) AS tpr_all,
             SUM(fp) / (SUM(n) - SUM(npos)) AS fpr_all
      FROM g
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
           ROUND(npred / n, 6) AS sel_rate,
           ROUND(tp / npos, 6) AS tpr,
           ROUND(fp / (n - npos), 6) AS fpr,
           ROUND(npred / n - o.sel_all, 6) AS dp_gap,
           ROUND(GREATEST(ABS(tp / npos - o.tpr_all),
                          ABS(fp / (n - npos) - o.fpr_all)), 6) AS eo_gap
    FROM g CROSS JOIN o
    """,
)
def ml_fairness_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the shared fixed classifier (the
    `ml_calibration_bins` logistic at its 0.5 operating point, i.e.
    price >= {_CAL_MID:.0f}) with order priority as the protected-
    attribute proxy: per-group selection rate (demographic parity), TPR
    and FPR (equalized odds), and the gap of each against the overall
    rates — the model-card fairness table (Hardt et al. 2016; Barocas
    et al.) every governed ML deployment publishes next to
    `ml_confusion_matrix`. Priority is independent of price in the
    fixture, so all gaps are TRUE-NULL (~0): the audit certifies a fair
    model as fair, and any gap drift flags a pipeline bug.

    Plan: label, prediction, and group are all row-local (no join); one
    partial-aggregating groupBy to 5 rows of integer counts; overall
    rates are a 1-row broadcast derived from the SAME 5-row frame (no
    second scan). Every ratio divides exact integer-valued doubles."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    per = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.when(F.col("o_totalprice") >= _CAL_MID, 1).otherwise(0).alias("pred"),
        F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1)
        .otherwise(0)
        .alias("label"),
    )
    g = per.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pred").cast("double").alias("npred"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1).otherwise(0))
        .cast("double")
        .alias("tp"),
        F.sum("label").cast("double").alias("npos"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1).otherwise(0))
        .cast("double")
        .alias("fp"),
    )
    ov = g.agg(
        (F.sum("npred") / F.sum("n")).alias("sel_all"),
        (F.sum("tp") / F.sum("npos")).alias("tpr_all"),
        (F.sum("fp") / (F.sum("n") - F.sum("npos"))).alias("fpr_all"),
    )
    sel = F.col("npred") / F.col("n")
    tpr = F.col("tp") / F.col("npos")
    fpr = F.col("fp") / (F.col("n") - F.col("npos"))
    return g.crossJoin(F.broadcast(ov)).select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(sel, 6).alias("sel_rate"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(sel - F.col("sel_all"), 6).alias("dp_gap"),
        F.round(
            F.greatest(
                F.abs(tpr - F.col("tpr_all")), F.abs(fpr - F.col("fpr_all"))
            ),
            6,
        ).alias("eo_gap"),
    )


# ---------------------------------------------------------------------------
# Delta-method CI for a ratio metric (round 11)
# ---------------------------------------------------------------------------


@register(
    "ml_ratio_metric_ci",
    oracle="""
    WITH per_user AS (
      SELECT user_id, SUM(value) AS x, CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM per_user
    ),
    d AS (
      SELECT n, sx / sy AS r, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vx,
             (syy - sy * sy / n) / (n - 1) AS vy,
             (sxy - sx * sy / n) / (n - 1) AS cxy
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(r, 6) AS ratio,
           ROUND(sqrt((vx - 2 * r * cxy + r * r * vy) / (n * my * my)), 6)
             AS se,
           ROUND(r - 1.959964 * sqrt((vx - 2 * r * cxy + r * r * vy)
                                     / (n * my * my)), 6) AS ci_lo,
           ROUND(r + 1.959964 * sqrt((vx - 2 * r * cxy + r * r * vy)
                                     / (n * my * my)), 6) AS ci_hi
    FROM d
    """,
)
def ml_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric — value per
    event with per-user clustering: R = sum(X_u)/sum(Y_u) over users,
    Var(R) ~ (S_X^2 - 2R*S_XY + R^2*S_Y^2) / (n * Ybar^2) (Fieller/
    delta; Deng et al. 2017's ratio-metric machinery) — the CI every
    experimentation platform needs for per-session / per-user ratio
    KPIs, where naive row-level variance is WRONG because the
    denominator is itself random and rows within a user correlate.
    Complements `agg_jackknife_ratio_se` (resampling answer) with the
    closed form, and `ml_cuped_experiment` consumes the same per-user
    frame.

    Plan: events partial-aggregate to one (x, y) row per user — the
    only stage that sees event volume — then a single 1-row moment
    aggregate; both engines spell the identical centered-moment
    algebra. Per-user x/y are small-magnitude, so no cancellation
    hazard at 6dp."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum("value").alias("x"), F.count(F.lit(1)).cast("double").alias("y")
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = sx / sy
    my = sy / n
    vx = (F.col("sxx") - sx * sx / n) / (n - 1)
    vy = (F.col("syy") - sy * sy / n) / (n - 1)
    cxy = (F.col("sxy") - sx * sy / n) / (n - 1)
    se = F.sqrt((vx - 2 * r * cxy + r * r * vy) / (n * my * my))
    z = 1.959964
    return m.select(
        n.cast("long").alias("n_users"),
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - z * se, 6).alias("ci_lo"),
        F.round(r + z * se, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Binned two-sample Cramer-von Mises test (round 11)
# ---------------------------------------------------------------------------


@register(
    "agg_cvm_test",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS bucket,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n2
      FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1
    ),
    t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM b),
    c AS (
      SELECT n1, n2,
             SUM(n1) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c1,
             SUM(n2) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c2
      FROM b
    )
    SELECT CAST(t.t1 AS BIGINT) AS n_open,
           CAST(t.t2 AS BIGINT) AS n_filled,
           ROUND(t.t1 * t.t2 / (t.t1 + t.t2)
                 * SUM((c.c1 / t.t1 - c.c2 / t.t2)
                       * (c.c1 / t.t1 - c.c2 / t.t2)
                       * (c.n1 + c.n2) / (t.t1 + t.t2)), 6) AS cvm_t,
           CAST(t.t1 * t.t2 / (t.t1 + t.t2)
                * SUM((c.c1 / t.t1 - c.c2 / t.t2)
                      * (c.c1 / t.t1 - c.c2 / t.t2)
                      * (c.n1 + c.n2) / (t.t1 + t.t2)) > 0.461
                AS INTEGER) AS reject_05
    FROM c CROSS JOIN t
    GROUP BY t.t1, t.t2
    """,
)
def agg_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample Cramer-von Mises test on the same open-vs-filled
    order-price split as `agg_ks_test`: T = (n1*n2/(n1+n2)) * integral of
    (F1 - F2)^2 against the POOLED empirical measure, approximated over
    the shared 5000-wide price buckets, vs the asymptotic 5% critical
    value 0.461 (Anderson 1962). Where KS keys on the single WORST ECDF
    gap, CvM integrates the squared gap everywhere — more power against
    diffuse distributional differences, which is why drift monitors run
    both.

    Plan: identical contraction to agg_ks_test — one map-side-combining
    groupBy(bucket), one cumulative window over O(price range / 5000)
    rows, one reduction. The raw table is never sorted."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
    )
    b = o.groupBy(
        F.floor(F.col("o_totalprice") / 5000).cast("long").alias("bucket")
    ).agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("double")
        .alias("n2"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = b.select(
        "n1", "n2", F.sum("n1").over(w).alias("c1"), F.sum("n2").over(w).alias("c2")
    )
    t = b.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    gap2 = (F.col("c1") / F.col("t1") - F.col("c2") / F.col("t2")) ** 2
    term = F.sum(gap2 * (F.col("n1") + F.col("n2")) / (F.col("t1") + F.col("t2")))
    stat = F.col("t1") * F.col("t2") / (F.col("t1") + F.col("t2")) * term
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("t1", "t2")
        .agg(
            F.round(stat, 6).alias("cvm_t"),
            (stat > 0.461).cast("int").alias("reject_05"),
        )
        .select(
            F.col("t1").cast("long").alias("n_open"),
            F.col("t2").cast("long").alias("n_filled"),
            "cvm_t",
            "reject_05",
        )
    )


# ---------------------------------------------------------------------------
# Mood's median test over a bucketed grand median (round 11)
# ---------------------------------------------------------------------------


@register(
    "agg_mood_median_test",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS DOUBLE) AS c
      FROM orders GROUP BY 1
    ),
    t AS (SELECT SUM(c) AS n FROM b),
    medb AS (
      SELECT MIN(bucket) AS mb FROM (
        SELECT bucket,
               SUM(c) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM b
      ) s CROSS JOIN t WHERE s.cum >= t.n / 2
    ),
    cls AS (
      SELECT o_orderpriority AS grp,
             CAST(SUM(CASE WHEN FLOOR(o_totalprice / 5000) > medb.mb
                           THEN 1 ELSE 0 END) AS DOUBLE) AS a,
             CAST(SUM(CASE WHEN FLOOR(o_totalprice / 5000) <= medb.mb
                           THEN 1 ELSE 0 END) AS DOUBLE) AS bl
      FROM orders CROSS JOIN medb GROUP BY 1, medb.mb
    ),
    tot AS (SELECT SUM(a) AS ta, SUM(bl) AS tb FROM cls)
    SELECT CAST(SUM(cls.a + cls.bl) AS BIGINT) AS n,
           CAST(COUNT(*) - 1 AS BIGINT) AS df,
           ROUND(SUM(
             (cls.a - (cls.a + cls.bl) * tot.ta / (tot.ta + tot.tb))
             * (cls.a - (cls.a + cls.bl) * tot.ta / (tot.ta + tot.tb))
             / ((cls.a + cls.bl) * tot.ta / (tot.ta + tot.tb))
             + (cls.bl - (cls.a + cls.bl) * tot.tb / (tot.ta + tot.tb))
             * (cls.bl - (cls.a + cls.bl) * tot.tb / (tot.ta + tot.tb))
             / ((cls.a + cls.bl) * tot.tb / (tot.ta + tot.tb))), 6) AS chi2,
           CAST(ROUND(SUM(
             (cls.a - (cls.a + cls.bl) * tot.ta / (tot.ta + tot.tb))
             * (cls.a - (cls.a + cls.bl) * tot.ta / (tot.ta + tot.tb))
             / ((cls.a + cls.bl) * tot.ta / (tot.ta + tot.tb))
             + (cls.bl - (cls.a + cls.bl) * tot.tb / (tot.ta + tot.tb))
             * (cls.bl - (cls.a + cls.bl) * tot.tb / (tot.ta + tot.tb))
             / ((cls.a + cls.bl) * tot.tb / (tot.ta + tot.tb))), 6)
                > 9.487729 AS INTEGER) AS reject_05
    FROM cls CROSS JOIN tot
    GROUP BY tot.ta, tot.tb
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across order priorities: split every order at a
    common bucketed grand median (the smallest 5000-wide price bucket
    whose cumulative count reaches n/2 — same scale-safe histogram-
    inversion as `agg_quantile_treatment_effect`, so no global sort) and
    chi-square the resulting 2x5 above/below contingency table against
    the pooled proportions (df = 4, 5% critical value 9.488). The
    coarsest, most outlier-immune of the k-sample location tests —
    `agg_kruskal_wallis` uses full rank information, Mood's only the
    side of the median — and the fixture's price-independent priorities
    make it a TRUE-NULL family.

    Plan: one O(buckets) histogram + cumulative window to find the
    split bucket (broadcast 1-row), one partial-aggregating
    groupBy(priority) for the counts, O(groups) algebra after. Two
    scans of orders (histogram + classify), both column-pruned to two
    columns."""
    o = load(spark, sf_dir, "orders")
    b = o.groupBy(
        F.floor(F.col("o_totalprice") / 5000).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_n = b.agg(F.sum("c").alias("n"))
    medb = (
        b.select("bucket", F.sum("c").over(w).alias("cum"))
        .crossJoin(F.broadcast(tot_n))
        .filter(F.col("cum") >= F.col("n") / 2)
        .agg(F.min("bucket").alias("mb"))
    )
    cls = (
        o.crossJoin(F.broadcast(medb))
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.sum(
                F.when(
                    F.floor(F.col("o_totalprice") / 5000) > F.col("mb"), 1
                ).otherwise(0)
            )
            .cast("double")
            .alias("a"),
            F.sum(
                F.when(
                    F.floor(F.col("o_totalprice") / 5000) <= F.col("mb"), 1
                ).otherwise(0)
            )
            .cast("double")
            .alias("bl"),
        )
    )
    tot = cls.agg(F.sum("a").alias("ta"), F.sum("bl").alias("tb"))
    j = cls.crossJoin(F.broadcast(tot))
    ea = (F.col("a") + F.col("bl")) * F.col("ta") / (F.col("ta") + F.col("tb"))
    eb = (F.col("a") + F.col("bl")) * F.col("tb") / (F.col("ta") + F.col("tb"))
    cell = (F.col("a") - ea) * (F.col("a") - ea) / ea + (
        F.col("bl") - eb
    ) * (F.col("bl") - eb) / eb
    return j.agg(
        F.sum(F.col("a") + F.col("bl")).cast("long").alias("n"),
        (F.count(F.lit(1)) - 1).cast("long").alias("df"),
        F.round(F.sum(cell), 6).alias("chi2"),
        (F.round(F.sum(cell), 6) > 9.487729).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Friedman rank test across treatments with blocks (round 11)
# ---------------------------------------------------------------------------


@register(
    "agg_friedman_test",
    oracle="""
    WITH cell AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS blk,
             o_orderpriority AS trt,
             AVG(o_totalprice) AS v
      FROM orders GROUP BY 1, 2
    ),
    complete AS (
      SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5
    ),
    ranked AS (
      SELECT c.blk, c.trt,
             CAST(ROW_NUMBER() OVER (PARTITION BY c.blk
                                     ORDER BY c.v, c.trt) AS DOUBLE) AS r
      FROM cell c JOIN complete USING (blk)
    ),
    rsum AS (
      SELECT trt, SUM(r) AS rj, CAST(COUNT(*) AS DOUBLE) AS n
      FROM ranked GROUP BY trt
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS k,
           ROUND(12.0 / (MAX(n) * COUNT(*) * (COUNT(*) + 1)) * SUM(rj * rj)
                 - 3.0 * MAX(n) * (COUNT(*) + 1), 6) AS q_stat,
           CAST(COUNT(*) - 1 AS BIGINT) AS df,
           CAST((12.0 / (MAX(n) * COUNT(*) * (COUNT(*) + 1)) * SUM(rj * rj)
                 - 3.0 * MAX(n) * (COUNT(*) + 1)) > 9.487729 AS INTEGER)
             AS reject_05
    FROM rsum
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (Friedman 1937): do the five order priorities
    differ in monthly mean order value, treating calendar months as
    BLOCKS? Within each complete block the treatments are ranked 1..5,
    and Q = 12/(nk(k+1)) * sum_j R_j^2 - 3n(k+1) ~ chi2(k-1) under the
    null — the repeated-measures / blocked counterpart of
    `agg_kruskal_wallis` (which pools all rows and would confound any
    month-level drift into the treatment comparison). Priority is
    independent of price in the fixture, so this is a TRUE-NULL family
    (5% critical value 9.488 at df=4). Months missing a priority are
    dropped whole (complete-block requirement) identically on both
    engines; cell means are continuous, so within-block rank ties are
    measure-zero and the (v, trt) orderBy pins any residual tie.

    Plan: orders partial-aggregate to O(months x 5) cell means — the
    only stage that sees row volume — then per-block rank windows over
    5-row partitions and an O(k) reduction."""
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(F.avg("o_totalprice").alias("v"))
    complete = cell.groupBy("blk").agg(F.count(F.lit(1)).alias("kc")).filter(
        F.col("kc") == 5
    )
    ranked = cell.join(F.broadcast(complete.select("blk")), "blk").select(
        "blk",
        "trt",
        F.row_number()
        .over(Window.partitionBy("blk").orderBy("v", "trt"))
        .cast("double")
        .alias("r"),
    )
    rsum = ranked.groupBy("trt").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).cast("double").alias("n")
    )
    n, k = F.max("n"), F.count(F.lit(1))
    q = 12.0 / (n * k * (k + 1)) * F.sum(F.col("rj") * F.col("rj")) - 3.0 * n * (
        k + 1
    )
    return rsum.agg(
        n.cast("long").alias("n_blocks"),
        k.cast("long").alias("k"),
        F.round(q, 6).alias("q_stat"),
        (k - 1).cast("long").alias("df"),
        (q > 9.487729).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Rank-biserial effect size for the Mann-Whitney comparison (round 11)
# ---------------------------------------------------------------------------


@register(
    "agg_rank_biserial",
    oracle=f"""
    WITH per AS (
      SELECT CAST(FLOOR(o_totalprice / {_AUC_BIN}) AS BIGINT) AS bucket,
             CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderstatus IN ('O', 'F')
    ),
    hist AS (
      SELECT bucket,
             CAST(SUM(grp) AS DOUBLE) AS n1b,
             CAST(COUNT(*) - SUM(grp) AS DOUBLE) AS n2b
      FROM per GROUP BY bucket
    ),
    cum AS (
      SELECT n1b, n2b,
             SUM(n2b) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n2b AS below
      FROM hist
    )
    SELECT CAST(SUM(n1b) AS BIGINT) AS n_open,
           CAST(SUM(n2b) AS BIGINT) AS n_filled,
           ROUND((SUM(n1b * below) + 0.5 * SUM(n1b * n2b))
                 / (SUM(n1b) * SUM(n2b)), 6) AS cl_effect,
           ROUND(2.0 * (SUM(n1b * below) + 0.5 * SUM(n1b * n2b))
                 / (SUM(n1b) * SUM(n2b)) - 1.0, 6) AS rank_biserial
    FROM cum
    """,
)
def agg_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biserial correlation r = 2U/(n1*n2) - 1 (Cureton 1956; the
    Wendt identity) and the common-language effect size U/(n1*n2) =
    P(open price > filled price) for the `agg_mann_whitney` comparison —
    the effect-size companion a significance test needs before anyone
    acts on it (the same pairing `agg_effect_sizes` provides for the
    parametric t-family). Shares the exact histogram pair-counting
    machinery (and the {_AUC_BIN}-unit buckets) with agg_mann_whitney /
    ml_auc_roc, so the U underneath can never drift from the test it
    describes. TRUE NULL on the fixture: r ~ 0, CL ~ 0.5.

    Plan: identical contraction — one map-side-combining bucket
    histogram, one cumulative window over O(buckets), one reduction."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
    )
    hist = o.groupBy(
        F.floor(F.col("o_totalprice") / _AUC_BIN).cast("long").alias("bucket")
    ).agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("double")
        .alias("n1b"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("double")
        .alias("n2b"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n1b", "n2b", (F.sum("n2b").over(w) - F.col("n2b")).alias("below")
    )
    u = F.sum(F.col("n1b") * F.col("below")) + 0.5 * F.sum(
        F.col("n1b") * F.col("n2b")
    )
    n1n2 = F.sum("n1b") * F.sum("n2b")
    return cum.agg(
        F.sum("n1b").cast("long").alias("n_open"),
        F.sum("n2b").cast("long").alias("n_filled"),
        F.round(u / n1n2, 6).alias("cl_effect"),
        F.round(2.0 * u / n1n2 - 1.0, 6).alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Platt scaling: post-hoc logistic calibration (round 11)
# ---------------------------------------------------------------------------
_PLATT_STEPS = 6  # unrolled Newton steps, both engines


def _platt_hist_sql() -> str:
    return f"""
      SELECT 1.0 / (1.0 + EXP(-((CAST(FLOOR(o_totalprice / {_AUC_BIN}) AS DOUBLE)
                                 * {_AUC_BIN} + {_AUC_BIN} / 2 - {_CAL_MID})
                                / {_CAL_SCALE}))) AS s,
             CAST(SUM(CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                      THEN 1 ELSE 0 END) AS DOUBLE) AS pos,
             CAST(SUM(CASE WHEN o_totalprice
                       + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                                  1, 15)) AS BIGINT)
                         % {_AUC_NOISE_MOD} > {_AUC_THRESHOLD}
                      THEN 0 ELSE 1 END) AS DOUBLE) AS neg
      FROM orders GROUP BY FLOOR(o_totalprice / {_AUC_BIN})"""


def _platt_step_sql(prev: str, out: str) -> str:
    # one Newton step on the 2-parameter cross-entropy against the Platt
    # smoothed targets; parameters re-quantized at 9dp (the ml_logistic_gd
    # convention) so both engines feed identical doubles into the next step
    return f"""
    {out} AS MATERIALIZED (
      SELECT ROUND(a - ( hbb * ga - hab * gb) / (haa * hbb - hab * hab), 9)
               AS a,
             ROUND(b - (-hab * ga + haa * gb) / (haa * hbb - hab * hab), 9)
               AS b
      FROM (
        SELECT MAX(p.a) AS a, MAX(p.b) AS b,
               SUM(h.s * (h.pos * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))) - t.tpos)
                        + h.neg * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))) - t.tneg)))
                 AS ga,
               SUM(h.pos * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))) - t.tpos)
                 + h.neg * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))) - t.tneg)) AS gb,
               SUM((h.pos + h.neg) * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))))
                   * (1.0 - 1.0 / (1.0 + EXP(-(p.a * h.s + p.b)))) * h.s * h.s)
                 AS haa,
               SUM((h.pos + h.neg) * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))))
                   * (1.0 - 1.0 / (1.0 + EXP(-(p.a * h.s + p.b)))) * h.s) AS hab,
               SUM((h.pos + h.neg) * (1.0 / (1.0 + EXP(-(p.a * h.s + p.b))))
                   * (1.0 - 1.0 / (1.0 + EXP(-(p.a * h.s + p.b))))) AS hbb
        FROM f2s_platt_hist h CROSS JOIN {prev} p CROSS JOIN f2s_platt_t t
      ) g
    )"""


@register(
    "ml_platt_scaling",
    oracle=f"""
    WITH f2s_platt_hist AS MATERIALIZED ({_platt_hist_sql()}),
    f2s_platt_t AS MATERIALIZED (
      SELECT (SUM(pos) + 1.0) / (SUM(pos) + 2.0) AS tpos,
             1.0 / (SUM(neg) + 2.0) AS tneg,
             SUM(pos) AS npos, SUM(neg) AS nneg
      FROM f2s_platt_hist
    ),
    p0 AS (SELECT 0.0 AS a,
                  ROUND(LN((t.nneg + 1.0) / (t.npos + 1.0)), 9) AS b
           FROM f2s_platt_t t),
    {','.join(_platt_step_sql(f'p{i}', f'p{i + 1}') for i in range(_PLATT_STEPS))}
    SELECT CAST(t.npos AS BIGINT) AS n_pos,
           CAST(t.nneg AS BIGINT) AS n_neg,
           ROUND(p.a, 6) AS platt_a,
           ROUND(p.b, 6) AS platt_b,
           ROUND(SUM(-(h.pos * LN(1.0 / (1.0 + EXP(-(p.a * h.s + p.b))))
                       + h.neg * LN(1.0 - 1.0 / (1.0 + EXP(-(p.a * h.s + p.b))))))
                 / (t.npos + t.nneg), 6) AS logloss_after
    FROM f2s_platt_hist h CROSS JOIN p{_PLATT_STEPS} p CROSS JOIN f2s_platt_t t
    GROUP BY t.npos, t.nneg, p.a, p.b
    """,
)
def ml_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (Platt 1999): fit sigma(A*s + B) to the shared fixed
    model's scores against the `ml_auc_roc` labels by {_PLATT_STEPS}
    unrolled Newton steps on the cross-entropy with Platt's smoothed
    targets (N+ + 1)/(N+ + 2) and 1/(N- + 2) — the parametric
    calibration map that completes the calibration family:
    `ml_calibration_bins` DIAGNOSES miscalibration, `ml_isotonic_pav`
    fits the non-parametric map, this fits the 2-parameter sigmoid every
    SVM/probe-scoring stack ships. Reports A, B, and the calibrated
    training log-loss. The model is already near-calibrated by
    construction, so A ~ 1-ish, B small — and the Newton fixpoint is
    well-conditioned (the Hessian is the positive-definite weighted
    score covariance).

    Determinism: scores live on bucket CENTERS of the shared
    {_AUC_BIN}-unit price histogram (the binned-design discipline of
    ml_logistic_gd — the fit is EXACT for the quantized model), and
    (A, B) are re-quantized at 9dp after every step so both engines
    feed identical doubles forward; fold-order ulp is absorbed by the
    quantization and the final ROUND 6.

    Scale: one scan to O(buckets) rows, checkpointed once; each Newton
    step is a 5-number aggregate over those buckets with a 2-parameter
    driver state — the bounded-collect loop contract of vec_kmeans
    (k x 64 doubles there, 2 doubles here)."""
    o = load(spark, sf_dir, "orders")
    noise = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _AUC_NOISE_MOD
    )
    label = F.when(F.col("o_totalprice") + noise > _AUC_THRESHOLD, 1).otherwise(0)
    b = F.floor(F.col("o_totalprice") / _AUC_BIN).cast("double")
    s = 1.0 / (
        1.0 + F.exp(-((b * _AUC_BIN + _AUC_BIN / 2 - _CAL_MID) / _CAL_SCALE))
    )
    hist = (
        o.select(s.alias("s"), label.alias("l"))
        .groupBy("s")
        .agg(
            F.sum("l").cast("double").alias("pos"),
            F.sum(1 - F.col("l")).cast("double").alias("neg"),
        )
        .localCheckpoint(eager=True)
    )
    tots = hist.agg(F.sum("pos").alias("npos"), F.sum("neg").alias("nneg")).collect()[0]
    npos, nneg = float(tots["npos"]), float(tots["nneg"])
    tpos, tneg = (npos + 1.0) / (npos + 2.0), 1.0 / (nneg + 2.0)
    a, bb = 0.0, round(math.log((nneg + 1.0) / (npos + 1.0)), 9)
    for _ in range(_PLATT_STEPS):
        p = 1.0 / (1.0 + F.exp(-(F.lit(a) * F.col("s") + F.lit(bb))))
        resid = F.col("pos") * (p - tpos) + F.col("neg") * (p - tneg)
        wgt = (F.col("pos") + F.col("neg")) * p * (1.0 - p)
        g = hist.agg(
            F.sum(F.col("s") * resid).alias("ga"),
            F.sum(resid).alias("gb"),
            F.sum(wgt * F.col("s") * F.col("s")).alias("haa"),
            F.sum(wgt * F.col("s")).alias("hab"),
            F.sum(wgt).alias("hbb"),
        ).collect()[0]
        det = g["haa"] * g["hbb"] - g["hab"] * g["hab"]
        a = round(a - (g["hbb"] * g["ga"] - g["hab"] * g["gb"]) / det, 9)
        bb = round(bb - (-g["hab"] * g["ga"] + g["haa"] * g["gb"]) / det, 9)
    pf = 1.0 / (1.0 + F.exp(-(F.lit(a) * F.col("s") + F.lit(bb))))
    out = hist.agg(
        F.lit(int(npos)).cast("long").alias("n_pos"),
        F.lit(int(nneg)).cast("long").alias("n_neg"),
        F.lit(round(a, 6)).alias("platt_a"),
        F.lit(round(bb, 6)).alias("platt_b"),
        F.round(
            F.sum(
                -(F.col("pos") * F.log(pf) + F.col("neg") * F.log(1.0 - pf))
            )
            / F.lit(npos + nneg),
            6,
        ).alias("logloss_after"),
    )
    result = out.localCheckpoint(eager=True)
    release(hist)
    return result


# ---------------------------------------------------------------------------
# Tukey HSD post-hoc pairwise comparisons (round 11)
# ---------------------------------------------------------------------------
_HSD_Q_CRIT = 3.858  # studentized range q(0.05, k=5, df=inf)


@register(
    "agg_tukey_hsd",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(o_totalprice - {_EFF_CENTER}) AS sx,
             SUM((o_totalprice - {_EFF_CENTER}) * (o_totalprice - {_EFF_CENTER}))
               AS sxx
      FROM orders GROUP BY 1
    ),
    mse AS (
      SELECT SUM(sxx - sx * sx / n) / (SUM(n) - COUNT(*)) AS mse FROM s
    )
    SELECT a.g AS group_a, b.g AS group_b,
           ROUND(a.sx / a.n - b.sx / b.n, 4) AS mean_diff,
           ROUND(ABS(a.sx / a.n - b.sx / b.n)
                 / sqrt(mse.mse / 2 * (1 / a.n + 1 / b.n)), 6) AS q_stat,
           CAST(ABS(a.sx / a.n - b.sx / b.n)
                / sqrt(mse.mse / 2 * (1 / a.n + 1 / b.n)) > {_HSD_Q_CRIT}
                AS INTEGER) AS reject_05
    FROM s a JOIN s b ON a.g < b.g CROSS JOIN mse
    """,
)
def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's HSD post-hoc pairwise comparisons across the five order
    priorities: for every pair, the studentized-range statistic q =
    |mean_i - mean_j| / sqrt(MSE/2 (1/n_i + 1/n_j)) against the 5%
    critical value {_HSD_Q_CRIT} (k=5, df ~ inf) — the step that
    belongs AFTER `agg_anova_oneway`: an omnibus F only says "some pair
    differs", HSD says WHICH pairs while controlling the family-wise
    error rate the way 10 naive t-tests would not. TRUE NULL on the
    fixture (price independent of priority): all 10 rejections must be
    0, matching the ANOVA family's null.

    Cross-engine exactness: group moments are centered on the pinned
    constant {_EFF_CENTER:.0f} (the agg_effect_sizes convention — an
    uncentered sum of squared prices loses ~10 significant digits);
    MSE is the pooled within-group variance from the same explicit
    sums. One partial-aggregating groupBy to 5 rows; the pairwise join
    is 5x5 algebra."""
    o = load(spark, sf_dir, "orders")
    c = F.col("o_totalprice") - _EFF_CENTER
    s = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).alias("sx"),
        F.sum(c * c).alias("sxx"),
    )
    mse = s.agg(
        (
            F.sum(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("mse")
    )
    a = s.select(
        F.col("g").alias("group_a"), F.col("n").alias("na"), F.col("sx").alias("sxa")
    )
    b = s.select(
        F.col("g").alias("group_b"), F.col("n").alias("nb"), F.col("sx").alias("sxb")
    )
    diff = F.col("sxa") / F.col("na") - F.col("sxb") / F.col("nb")
    q = F.abs(diff) / F.sqrt(
        F.col("mse") / 2 * (1 / F.col("na") + 1 / F.col("nb"))
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(mse))
        .select(
            "group_a",
            "group_b",
            F.round(diff, 4).alias("mean_diff"),
            F.round(q, 6).alias("q_stat"),
            (q > _HSD_Q_CRIT).cast("int").alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# Dunn's post-hoc pairwise rank comparisons (round 11 tail)
# ---------------------------------------------------------------------------
_DUNN_Z_CRIT = _norm_inv(1 - 0.05 / (2 * 10))  # Bonferroni: 10 pairs, two-sided


@register(
    "agg_dunn_posthoc",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(o_totalprice / {_KW_BIN}) AS BIGINT) AS bucket
      FROM orders
    ),
    hist AS (
      SELECT grp, bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM per GROUP BY 1, 2
    ),
    btot AS (SELECT bucket, SUM(c) AS t FROM hist GROUP BY bucket),
    mid AS (
      SELECT bucket, t,
             SUM(t) OVER (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - t + (t + 1) / 2.0 AS midrank
      FROM btot
    ),
    g AS (
      SELECT h.grp, SUM(h.c) AS n_g, SUM(h.c * m.midrank) / SUM(h.c) AS rbar
      FROM hist h JOIN mid m USING (bucket) GROUP BY h.grp
    ),
    tot AS (
      SELECT SUM(n_g) AS n,
             (SELECT SUM(t*t*t - t) FROM btot) AS tie3
      FROM g
    )
    SELECT a.grp AS group_a, b.grp AS group_b,
           ROUND(a.rbar - b.rbar, 4) AS rank_diff,
           ROUND((a.rbar - b.rbar)
                 / sqrt((tot.n * (tot.n + 1) / 12.0
                         - tot.tie3 / (12.0 * (tot.n - 1)))
                        * (1 / a.n_g + 1 / b.n_g)), 6) AS z_stat,
           CAST(ABS(a.rbar - b.rbar)
                / sqrt((tot.n * (tot.n + 1) / 12.0
                        - tot.tie3 / (12.0 * (tot.n - 1)))
                       * (1 / a.n_g + 1 / b.n_g)) > {_DUNN_Z_CRIT}
                AS INTEGER) AS reject_05
    FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN tot
    """,
)
def agg_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's (1964) post-hoc pairwise rank comparisons across the 5 order
    priorities — the WHICH-pair step after `agg_kruskal_wallis`'s omnibus
    H, exactly as `agg_tukey_hsd` follows `agg_anova_oneway` but on
    midranks instead of means: z_ij = (Rbar_i - Rbar_j) / sqrt((N(N+1)/12
    - sum(t^3-t)/(12(N-1))) (1/n_i + 1/n_j)), tie-corrected because the
    shared {_KW_BIN}-wide price buckets tie by construction. Significance
    against the Bonferroni-adjusted two-sided 5% critical value
    {_DUNN_Z_CRIT} (alpha/20, baked at import by the `_norm_inv` bisection
    so neither engine needs a normal CDF in-query). TRUE NULL on the
    fixture (price independent of priority): all 10 rejections must be 0,
    consistent with the KW family's null.

    Plan: identical contraction to agg_kruskal_wallis — one O(rows)
    partial-aggregating groupBy to the (group, bucket) histogram, an
    O(buckets) cumulative window for midranks, an O(groups) rollup, then
    5x5 pairwise algebra over broadcast frames. The shuffle carries bucket
    cardinality, never order rows; exact rank post-hocs at 100 TB are
    feasible only through this histogram identity."""
    o = load(spark, sf_dir, "orders")
    per = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") / _KW_BIN).cast("long").alias("bucket"),
    )
    hist = per.groupBy("grp", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    btot = hist.groupBy("bucket").agg(F.sum("c").alias("t"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mid = btot.select(
        "bucket",
        (F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0).alias("midrank"),
    )
    g = (
        hist.join(mid, "bucket")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_g"),
            (F.sum(F.col("c") * F.col("midrank")) / F.sum("c")).alias("rbar"),
        )
    )
    tot = btot.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
        F.sum("t").alias("n"),
    )
    a = g.select(
        F.col("grp").alias("group_a"),
        F.col("n_g").alias("na"),
        F.col("rbar").alias("ra"),
    )
    b = g.select(
        F.col("grp").alias("group_b"),
        F.col("n_g").alias("nb"),
        F.col("rbar").alias("rb"),
    )
    sigma = F.sqrt(
        (
            F.col("n") * (F.col("n") + 1) / 12.0
            - F.col("tie3") / (12.0 * (F.col("n") - 1))
        )
        * (1 / F.col("na") + 1 / F.col("nb"))
    )
    z = (F.col("ra") - F.col("rb")) / sigma
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "group_a",
            "group_b",
            F.round(F.col("ra") - F.col("rb"), 4).alias("rank_diff"),
            F.round(z, 6).alias("z_stat"),
            (F.abs(z) > _DUNN_Z_CRIT).cast("int").alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "agg_jarque_bera",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(o_totalprice - {_EFF_CENTER}) AS m1,
             AVG(POW(o_totalprice - {_EFF_CENTER}, 2)) AS r2,
             AVG(POW(o_totalprice - {_EFF_CENTER}, 3)) AS r3,
             AVG(POW(o_totalprice - {_EFF_CENTER}, 4)) AS r4
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT g, n,
             r2 - m1*m1 AS m2,
             r3 - 3*m1*r2 + 2*m1*m1*m1 AS m3,
             r4 - 4*m1*r3 + 6*m1*m1*r2 - 3*m1*m1*m1*m1 AS m4
      FROM s
    ),
    j AS (
      SELECT g, CAST(n AS BIGINT) AS n,
             m3 / POW(m2, 1.5) AS skew,
             m4 / (m2 * m2) - 3 AS kurt_excess,
             n / 6.0 * (POW(m3 / POW(m2, 1.5), 2)
                        + POW(m4 / (m2 * m2) - 3, 2) / 4.0) AS jb
      FROM c
    )
    SELECT g, n, ROUND(skew, 6) AS skew, ROUND(kurt_excess, 6) AS kurt_excess,
           ROUND(jb, 4) AS jb_stat, ROUND(EXP(-jb / 2.0), 6) AS p_value,
           CAST(jb > 5.991 AS INTEGER) AS reject_05
    FROM j ORDER BY g
    """,
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of order price within each of the 5
    order priorities: JB = n/6 (skew^2 + kurt_excess^2/4) ~ chi2(2) under
    normality, with the exact chi2(2) survival p = exp(-JB/2) (the one
    chi-square whose CDF is closed-form, so both engines compute the
    p-value with plain EXP — no approximation machinery). o_totalprice is
    a sum of ~4 uniform line prices (Irwin-Hall), i.e. NEAR-normal but
    measurably platykurtic — JB rejects at this n, which is the correct
    and deterministic answer (the `agg_qq_normal` family's diagnosis,
    condensed to one statistic per group).

    Cross-engine exactness: raw moments are averaged about the pinned
    center {_EFF_CENTER:.0f} (the agg_effect_sizes / agg_tukey_hsd
    discipline) and converted to central moments by the binomial
    identities m2 = r2 - m1^2 etc. — identical arithmetic text on both
    engines; outputs rounded. Plan: ONE partial-aggregating groupBy to 5
    rows; everything after is per-row algebra. 5.991 = chi2(2, 0.95)."""
    o = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice") - _EFF_CENTER
    s = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(x).alias("m1"),
        F.avg(F.pow(x, 2)).alias("r2"),
        F.avg(F.pow(x, 3)).alias("r3"),
        F.avg(F.pow(x, 4)).alias("r4"),
    )
    m1, r2, r3, r4 = F.col("m1"), F.col("r2"), F.col("r3"), F.col("r4")
    c = s.select(
        "g",
        "n",
        (r2 - m1 * m1).alias("m2"),
        (r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1).alias("m3"),
        (r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1).alias("m4"),
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    jb = F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4.0)
    return (
        c.select(
            "g",
            F.col("n").cast("long").alias("n"),
            F.round(skew, 6).alias("skew"),
            F.round(kurt, 6).alias("kurt_excess"),
            F.round(jb, 4).alias("jb_stat"),
            F.round(F.exp(-jb / 2.0), 6).alias("p_value"),
            (jb > 5.991).cast("int").alias("reject_05"),
        )
        .orderBy("g")
    )


# ---------------------------------------------------------------------------
# Cochran's Q test for k related binary treatments (round 11 tail)
# ---------------------------------------------------------------------------
_CQ_THRESH = 150000.0  # binary outcome: block's mean price in cell > this


@register(
    "agg_cochran_q",
    oracle=f"""
    WITH cell AS (
      SELECT o_custkey AS blk, o_orderpriority AS trt,
             CASE WHEN AVG(o_totalprice) > {_CQ_THRESH} THEN 1 ELSE 0 END AS x
      FROM orders GROUP BY 1, 2
    ),
    complete AS (SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = 5),
    c AS (SELECT cell.* FROM cell JOIN complete USING (blk)),
    rows_ AS (SELECT blk, CAST(SUM(x) AS DOUBLE) AS ri FROM c GROUP BY blk),
    cols_ AS (SELECT trt, CAST(SUM(x) AS DOUBLE) AS cj FROM c GROUP BY trt),
    tot AS (
      SELECT (SELECT SUM(ri) FROM rows_) AS t,
             (SELECT SUM(ri * ri) FROM rows_) AS r2,
             (SELECT COUNT(*) FROM rows_) AS nb
    )
    SELECT CAST(tot.nb AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(*) - 1 AS BIGINT) AS df,
           ROUND(COUNT(*) * (COUNT(*) - 1)
                 * (SUM(cj * cj) - tot.t * tot.t / COUNT(*))
                 / (COUNT(*) * tot.t - tot.r2), 6) AS q_stat,
           CAST(COUNT(*) * (COUNT(*) - 1)
                * (SUM(cj * cj) - tot.t * tot.t / COUNT(*))
                / (COUNT(*) * tot.t - tot.r2) > 9.487729 AS INTEGER)
             AS reject_05
    FROM cols_ CROSS JOIN tot
    GROUP BY tot.nb, tot.t, tot.r2
    """,
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q (1950): do the five order priorities differ in the
    RATE of a binary outcome (customer's mean order value in that
    priority exceeding {_CQ_THRESH:.0f}), treating customers with orders
    in all five priorities as matched BLOCKS? Q = k(k-1) sum_j (C_j -
    T/k)^2 / (kT - sum_i R_i^2) ~ chi2(k-1) — the binary-outcome member
    of the blocked family (`agg_friedman_test` ranks continuous cells,
    `ml_mcnemar_test` is its k=2 special case). TRUE NULL on the fixture
    (price independent of priority): expect no rejection.

    Plan: one O(rows) partial-aggregating groupBy to (customer,
    priority) cells, a HAVING filter for complete blocks, then two
    bounded rollups (per-block row totals, per-treatment column totals)
    — the shuffle carries cell cardinality, never order rows. 9.487729 =
    chi2(4, 0.95), the agg_chisq family constant."""
    o = load(spark, sf_dir, "orders")
    cell = (
        o.groupBy(
            F.col("o_custkey").alias("blk"), F.col("o_orderpriority").alias("trt")
        )
        .agg((F.avg("o_totalprice") > _CQ_THRESH).cast("int").alias("x"))
    )
    complete = (
        cell.groupBy("blk").agg(F.count(F.lit(1)).alias("nc")).filter(F.col("nc") == 5)
    )
    c = cell.join(complete.select("blk"), "blk")
    rows_ = c.groupBy("blk").agg(F.sum("x").cast("double").alias("ri"))
    cols_ = c.groupBy("trt").agg(F.sum("x").cast("double").alias("cj"))
    tot = rows_.agg(
        F.sum("ri").alias("t"),
        F.sum(F.col("ri") * F.col("ri")).alias("r2"),
        F.count(F.lit(1)).alias("nb"),
    )
    # sum_j (C_j - T/k)^2 == sum_j C_j^2 - T^2/k, so the pairwise deviation
    # never nests an aggregate inside an aggregate (Spark disallows that)
    agg = (
        cols_.crossJoin(F.broadcast(tot))
        .groupBy("nb", "t", "r2")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("cj") * F.col("cj")).alias("c2"),
        )
    )
    k = F.col("k")
    q = (
        k
        * (k - 1)
        * (F.col("c2") - F.col("t") * F.col("t") / k)
        / (k * F.col("t") - F.col("r2"))
    )
    return agg.select(
        F.col("nb").cast("long").alias("n_blocks"),
        k.cast("long").alias("k"),
        (k - 1).cast("long").alias("df"),
        F.round(q, 6).alias("q_stat"),
        (q > 9.487729).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Cox proportional hazards, single binary covariate (round 11 tail)
# ---------------------------------------------------------------------------
_COX_STEPS = 4         # unrolled Newton steps, both engines
_COX_THRESH = 150000.0  # covariate: first order's totalprice above this


def _cox_step_sql(prev: str, out: str) -> str:
    # one Newton step on the Breslow partial likelihood; with a BINARY
    # covariate the risk-set sums reduce to S0 = (nr - n1) + n1 e^b and
    # S1 = S2 = n1 e^b, so each step is one aggregate over event times
    ratio = "(n1 * EXP(p.b)) / ((nr - n1) + n1 * EXP(p.b))"
    return f"""
    {out} AS MATERIALIZED (
      SELECT ROUND(p.b + SUM(sx - d * {ratio})
                       / SUM(d * {ratio} * (1 - {ratio})), 9) AS b
      FROM f2s_cox_ev CROSS JOIN {prev} p GROUP BY p.b
    )"""


@register(
    "ml_cox_ph",
    oracle=f"""
    WITH ranked AS (
      SELECT o_custkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    per_cust AS (
      SELECT o_custkey,
             MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS first_o,
             MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS second_o,
             MIN(CASE WHEN rn = 1 THEN o_totalprice END) AS first_price
      FROM ranked WHERE rn <= 2 GROUP BY o_custkey
    ),
    subj AS (
      SELECT CASE WHEN second_o IS NOT NULL
                  THEN datediff('day', first_o, second_o)
                  ELSE datediff('day', first_o, TIMESTAMP '2001-08-01') END AS dur,
             CASE WHEN second_o IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CASE WHEN first_price > {_COX_THRESH} THEN 1 ELSE 0 END AS x
      FROM per_cust
    ),
    e0 AS (
      SELECT dur, CAST(COUNT(*) AS DOUBLE) AS m, CAST(SUM(ev) AS DOUBLE) AS d,
             CAST(SUM(x) AS DOUBLE) AS m1, CAST(SUM(ev * x) AS DOUBLE) AS sx
      FROM subj GROUP BY dur
    ),
    f2s_cox_ev AS MATERIALIZED (
      SELECT dur, d, sx, nr, n1 FROM (
        SELECT dur, d, sx,
               SUM(m) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS nr,
               SUM(m1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS n1
        FROM e0
      ) WHERE d >= 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
                   CAST(SUM(ev) AS BIGINT) AS n_events FROM subj),
    b0 AS (SELECT 0.0 AS b),
    {",".join(_cox_step_sql(f"b{i}", f"b{i + 1}") for i in range(_COX_STEPS))},
    fin AS (
      SELECT p.b,
             SUM(d * (n1 * EXP(p.b)) / ((nr - n1) + n1 * EXP(p.b))
                   * (1 - (n1 * EXP(p.b)) / ((nr - n1) + n1 * EXP(p.b)))) AS info
      FROM f2s_cox_ev CROSS JOIN b{_COX_STEPS} p GROUP BY p.b
    )
    SELECT tot.n_subjects, tot.n_events,
           ROUND(fin.b, 6) AS beta,
           ROUND(EXP(fin.b), 6) AS hazard_ratio,
           ROUND(1 / SQRT(fin.info), 6) AS se,
           ROUND(fin.b * SQRT(fin.info), 6) AS z_stat,
           CAST(ABS(fin.b * SQRT(fin.info)) > 1.96 AS INTEGER) AS reject_05
    FROM fin CROSS JOIN tot
    """,
)
def ml_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression (Cox 1972, Breslow ties) on
    time-to-repeat-order with one binary covariate — does a large first
    order (totalprice > {_COX_THRESH:.0f}) change the repeat-purchase
    hazard? Fit by {_COX_STEPS} unrolled Newton steps on the partial
    likelihood. The REGRESSION member of the survival family:
    `orders_survival_km` estimates the curve, this estimates a covariate
    effect with its standard error — and on the fixture (price
    independent of repeat timing) the true-null answer is beta ~ 0, no
    rejection. Reports beta, the hazard ratio e^beta, se = I^-1/2, and
    the Wald z.

    The binary covariate makes the risk-set sums CLOSED-FORM in the
    beta-independent cumulative counts: S0(t) = (n_risk - n1) + n1 e^b,
    S1 = S2 = n1 e^b, where n_risk(t) and n1(t) come from one descending
    cumulative window over the O(distinct durations) duration histogram
    (the orders_survival_km shape). So the data-volume work happens
    exactly once; each Newton step is a 2-number aggregate over event
    times with a 1-double driver state, re-quantized at 9dp per step
    (the ml_platt_scaling bounded-collect contract).

    Scale: one per-customer window + one groupBy contraction; the
    iteration never touches raw rows. At 100 TB the duration histogram
    is a few thousand rows regardless of input volume."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey", "o_orderdate", "o_totalprice", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    per_cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("first_o"),
        F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("second_o"),
        F.min(F.when(F.col("rn") == 1, F.col("o_totalprice"))).alias("first_price"),
    )
    end = F.lit("2001-08-01").cast("timestamp")
    dur = F.when(
        F.col("second_o").isNotNull(),
        F.datediff(F.col("second_o").cast("date"), F.col("first_o").cast("date")),
    ).otherwise(F.datediff(end.cast("date"), F.col("first_o").cast("date")))
    subj = per_cust.select(
        dur.alias("dur"),
        F.col("second_o").isNotNull().cast("int").alias("ev"),
        (F.col("first_price") > _COX_THRESH).cast("int").alias("x"),
    )
    e0 = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("ev").cast("double").alias("d"),
        F.sum("x").cast("double").alias("m1"),
        F.sum(F.col("ev") * F.col("x")).cast("double").alias("sx"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ev_t = (
        e0.select(
            "dur",
            "d",
            "sx",
            F.sum("m").over(w_desc).alias("nr"),
            F.sum("m1").over(w_desc).alias("n1"),
        )
        .filter(F.col("d") >= 1)
        .localCheckpoint(eager=True)
    )
    tot = subj.agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.sum("ev").cast("long").alias("n_events"),
    ).collect()[0]
    b = 0.0
    info = None
    for _ in range(_COX_STEPS):
        ratio = (F.col("n1") * math.exp(b)) / (
            (F.col("nr") - F.col("n1")) + F.col("n1") * math.exp(b)
        )
        g = ev_t.agg(
            F.sum(F.col("sx") - F.col("d") * ratio).alias("u"),
            F.sum(F.col("d") * ratio * (1 - ratio)).alias("i"),
        ).collect()[0]
        b = round(b + g["u"] / g["i"], 9)
    ratio = (F.col("n1") * math.exp(b)) / (
        (F.col("nr") - F.col("n1")) + F.col("n1") * math.exp(b)
    )
    info = ev_t.agg(F.sum(F.col("d") * ratio * (1 - ratio)).alias("i")).collect()[0][
        "i"
    ]
    z = b * math.sqrt(info)
    out = ev_t.limit(1).select(
        F.lit(int(tot["n_subjects"])).cast("long").alias("n_subjects"),
        F.lit(int(tot["n_events"])).cast("long").alias("n_events"),
        F.lit(round(b, 6)).alias("beta"),
        F.lit(round(math.exp(b), 6)).alias("hazard_ratio"),
        F.lit(round(1 / math.sqrt(info), 6)).alias("se"),
        F.lit(round(z, 6)).alias("z_stat"),
        F.lit(1 if abs(z) > 1.96 else 0).cast("int").alias("reject_05"),
    )
    result = out.localCheckpoint(eager=True)
    release(ev_t)
    return result


# ---------------------------------------------------------------------------
# Split-conformal prediction interval (round 11 tail)
# ---------------------------------------------------------------------------
_CONF_BINW = 500.0  # residual-score bucket width for the mergeable ECDF
_CONF_ALPHA = 0.1   # target 90% coverage


@register(
    "ml_conformal_interval",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, CAST(COUNT(*) AS DOUBLE) AS x FROM lineitem GROUP BY 1
    ),
    d AS (
      SELECT o_totalprice AS y, li.x,
             CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 4 AS part
      FROM orders JOIN li ON l_orderkey = o_orderkey
    ),
    fit0 AS (
      SELECT SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM d WHERE part IN (0, 1)
    ),
    fit AS (
      SELECT n AS n_train,
             ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 2) AS b
      FROM fit0
    ),
    fit2 AS (
      SELECT fit.n_train, fit.b,
             ROUND((f0.sy - fit.b * f0.sx) / f0.n, 2) AS a
      FROM fit CROSS JOIN fit0 f0
    ),
    calh AS (
      SELECT CAST(FLOOR(ABS(y - (a + b * x)) / {_CONF_BINW}) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS DOUBLE) AS c
      FROM d CROSS JOIN fit2 WHERE part = 2 GROUP BY 1
    ),
    caln AS (SELECT SUM(c) AS n_cal FROM calh),
    cum AS (
      SELECT bucket, SUM(c) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW) AS cc
      FROM calh
    ),
    qh AS (
      SELECT (MIN(bucket) + 1) * {_CONF_BINW}e0 AS q_hat
      FROM cum CROSS JOIN caln
      WHERE cc >= CEIL((1 - {_CONF_ALPHA}) * (n_cal + 1))
    ),
    test AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_test,
             CAST(SUM(CASE WHEN ABS(y - (a + b * x)) <= q_hat
                      THEN 1 ELSE 0 END) AS DOUBLE) AS cov
      FROM d CROSS JOIN fit2 CROSS JOIN qh WHERE part = 3
    )
    SELECT CAST(fit2.n_train AS BIGINT) AS n_train,
           CAST(caln.n_cal AS BIGINT) AS n_cal,
           CAST(test.n_test AS BIGINT) AS n_test,
           fit2.a AS intercept, fit2.b AS slope,
           qh.q_hat AS q_hat,
           ROUND(test.cov / test.n_test, 6) AS coverage
    FROM fit2 CROSS JOIN caln CROSS JOIN qh CROSS JOIN test
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al. 2018) —
    the distribution-free way to attach a FINITE-SAMPLE-guaranteed
    interval to any point model: fit on the train split, take the
    ceil((1-alpha)(n_cal+1))-th smallest absolute residual on the
    calibration split as the half-width q_hat, and coverage on the
    held-out test split is then >= 1 - alpha BY CONSTRUCTION, no
    distributional assumptions. Model: OLS of order value on the
    order's lineitem count. (Measured on the fixture the two are nearly
    independent — corr ≈ −0.02, the synthetic o_totalprice is not a sum
    over lineitems — so the fitted slope is ~0 and the conformal
    intervals come out ~the marginal residual quantiles; the coverage
    guarantee is distribution-free and holds regardless.) Splits are
    md5(o_orderkey) % 4 (train/train/cal/test — the split_train_test
    hashing discipline).

    Determinism: the conformal quantile uses the mergeable bucketed-ECDF
    inversion of `agg_quantile_treatment_effect` ({_CONF_BINW:.0f}-wide
    residual buckets, q_hat = the bucket's UPPER edge — conservative by
    <= one bucket, documented), and the fitted (slope, intercept) are
    re-quantized at 2dp on both engines so every downstream residual is
    bit-identical — the model quantization costs <= 3.5 in yhat against
    a {_CONF_BINW:.0f}-wide bucket grid.

    Scale: one lineitem contraction + one equi-join; fit and quantile
    run on O(1) and O(buckets) frames. The cumulative window sorts
    buckets, never rows — conformal calibration at 100 TB is exactly
    this shape (scores are mergeable histograms)."""
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    o = load(spark, sf_dir, "orders")
    part = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 4
    )
    # The (y, x, part) frame feeds three disjoint-split aggregates, and the
    # staged fit/quantile cross-joins re-inline it ~10x in the composed plan
    # (r14 plan read) — one eager checkpoint makes every consumer a leaf
    # read, so the lineitem contraction + equi-join genuinely runs ONCE (the
    # docstring's scale claim). Blocks are freed after the 1-row result
    # materializes (the dedup_weighted_minhash discipline).
    d = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_totalprice").alias("y"), "x", part.alias("part"))
        .localCheckpoint(eager=True)
    )
    fit0 = d.filter(F.col("part").isin(0, 1)).agg(
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    b = F.round(
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
        / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
        2,
    )
    fit0 = fit0.localCheckpoint(eager=True)  # 1 row; feeds fit2 twice
    fit2 = fit0.select(
        F.col("n").alias("n_train"),
        b.alias("b"),
    ).crossJoin(F.broadcast(fit0.select("sx", "sy", "n"))).select(
        "n_train",
        "b",
        F.round((F.col("sy") - F.col("b") * F.col("sx")) / F.col("n"), 2).alias("a"),
    )
    resid = F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x")))
    calh = (
        d.filter(F.col("part") == 2)
        .crossJoin(F.broadcast(fit2))
        .groupBy(F.floor(resid / _CONF_BINW).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=True)  # O(buckets) rows; 3 consumers
    )
    caln = calh.agg(F.sum("c").alias("n_cal"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = calh.select("bucket", F.sum("c").over(w).alias("cc"))
    qh = (
        cum.crossJoin(F.broadcast(caln))
        .filter(F.col("cc") >= F.ceil((1 - _CONF_ALPHA) * (F.col("n_cal") + 1)))
        .agg(((F.min("bucket") + 1) * _CONF_BINW).alias("q_hat"))
    )
    test = (
        d.filter(F.col("part") == 3)
        .crossJoin(F.broadcast(fit2))
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_test"),
            F.sum((resid <= F.col("q_hat")).cast("double")).alias("cov"),
        )
    )
    result = (
        fit2.crossJoin(F.broadcast(caln))
        .crossJoin(F.broadcast(qh))
        .crossJoin(F.broadcast(test))
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("a").alias("intercept"),
            F.col("b").alias("slope"),
            F.col("q_hat").alias("q_hat"),
            F.round(F.col("cov") / F.col("n_test"), 6).alias("coverage"),
        )
        .localCheckpoint(eager=True)  # 1 row; lets the interim blocks go
    )
    for interim in (d, fit0, calh):
        release(interim)
    return result


# ---------------------------------------------------------------------------
# Gradient-boosted stumps on a binned design (round 11 tail)
# ---------------------------------------------------------------------------
_GBM_ROUNDS = 3
_GBM_BINW = 20000.0  # o_totalprice bucket width for the stump candidates


def _gbm_round_sql(hist: str, out_best: str, out_hist: str, rnd: int) -> str:
    # one boosting round: cumulative left sums over the bucket grid ->
    # best split by SSE-reduction gain (ties: smallest bucket) ->
    # residual update with the 9dp-quantized leaf means
    return f"""
    cum{rnd} AS (
      SELECT bucket, n, r,
             SUM(n * r) OVER w AS sl, SUM(n) OVER w AS nl,
             SUM(n * r) OVER () AS st, SUM(n) OVER () AS nt
      FROM {hist}
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    {out_best} AS MATERIALIZED (
      SELECT {rnd} AS round, bucket AS split_bucket,
             ROUND(sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
                   - st * st / nt, 6) AS gain,
             ROUND(sl / nl, 9) AS mu_left,
             ROUND((st - sl) / (nt - nl), 9) AS mu_right
      FROM cum{rnd} WHERE nl < nt
      ORDER BY ROUND(sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
                     - st * st / nt, 6) DESC, bucket ASC
      LIMIT 1
    ),
    {out_hist} AS MATERIALIZED (
      SELECT h.bucket, h.n,
             h.r - CASE WHEN h.bucket <= b.split_bucket
                        THEN b.mu_left ELSE b.mu_right END AS r
      FROM {hist} h CROSS JOIN {out_best} b
    )"""


@register(
    "ml_gradient_boost_stumps",
    oracle=f"""
    WITH h0 AS MATERIALIZED (
      SELECT CAST(FLOOR(o.o_totalprice / {_GBM_BINW}) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS DOUBLE) AS n,
             -- y is an INTEGER count, so sums are exact in double and the
             -- whole boosting recursion is bit-identical across engines
             SUM(li.x) / COUNT(*) AS r
      FROM orders o
      JOIN (SELECT l_orderkey, CAST(COUNT(*) AS DOUBLE) AS x
            FROM lineitem GROUP BY 1) li
        ON li.l_orderkey = o.o_orderkey
      GROUP BY 1
    ),
    hist0 AS MATERIALIZED (
      SELECT bucket, n, ROUND(r, 9) AS r FROM h0
    ),
    {",".join(_gbm_round_sql(f"hist{i}", f"best{i + 1}", f"hist{i + 1}", i + 1) for i in range(_GBM_ROUNDS))}
    SELECT round, split_bucket, gain, mu_left, mu_right FROM best1
    UNION ALL SELECT round, split_bucket, gain, mu_left, mu_right FROM best2
    UNION ALL SELECT round, split_bucket, gain, mu_left, mu_right FROM best3
    ORDER BY round
    """,
)
def ml_gradient_boost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient boosting with depth-1 trees (Friedman 2001), squared
    loss, {_GBM_ROUNDS} rounds, on a binned design: predict an order's
    LINEITEM COUNT from its total price. (Measured on the fixture the
    two are nearly independent — corr ≈ −0.02, the synthetic generator
    draws o_totalprice without summing lineitems — so the stumps find
    only weak splits; the boosting recursion, gain argmax, and leaf
    updates are exercised identically either way.) Each
    round fits the best single split over the {_GBM_BINW:.0f}-wide price
    buckets by SSE-reduction gain (the events_changepoint identity
    S_L^2/N_L + S_R^2/N_R - S^2/N) and subtracts the fitted leaf means
    from the residuals — the exact additive-stage recursion inside
    every GBDT library, demonstrably relational. Reports per round the
    chosen split, its gain, and the two leaf values.

    Determinism: the target is an integer count, so every bucket mean is
    exact-rational; residual means are re-quantized at 9dp per round
    (ml_platt_scaling contract), gains gate the argmax at ROUND 6 with
    bucket ascending as tiebreak (the events_changepoint discipline).

    Scale: the ONLY stage that sees data volume is the first
    (order, lineitem-count) contraction; all {_GBM_ROUNDS} boosting
    rounds run on the O(price-buckets) histogram (~60 rows) with a
    3-double driver state per round — a GBDT on 100 TB is exactly this
    shape (XGBoost's approx/hist mode IS binned-sketch boosting)."""
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    o = load(spark, sf_dir, "orders")
    hist = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.floor(F.col("o_totalprice") / _GBM_BINW).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.round(F.sum("x") / F.count(F.lit(1)), 9).alias("r"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows = []
    cur = hist
    for rnd in range(1, _GBM_ROUNDS + 1):
        cum = cur.select(
            "bucket",
            F.sum(F.col("n") * F.col("r")).over(w).alias("sl"),
            F.sum("n").over(w).alias("nl"),
        ).crossJoin(
            F.broadcast(
                cur.agg(
                    F.sum(F.col("n") * F.col("r")).alias("st"),
                    F.sum("n").alias("nt"),
                )
            )
        )
        gain = F.round(
            F.col("sl") * F.col("sl") / F.col("nl")
            + (F.col("st") - F.col("sl"))
            * (F.col("st") - F.col("sl"))
            / (F.col("nt") - F.col("nl"))
            - F.col("st") * F.col("st") / F.col("nt"),
            6,
        )
        best = (
            cum.filter(F.col("nl") < F.col("nt"))
            .select(
                F.col("bucket").alias("split_bucket"),
                gain.alias("gain"),
                F.round(F.col("sl") / F.col("nl"), 9).alias("mu_left"),
                F.round(
                    (F.col("st") - F.col("sl")) / (F.col("nt") - F.col("nl")), 9
                ).alias("mu_right"),
            )
            .orderBy(F.col("gain").desc(), F.col("split_bucket").asc())
            .limit(1)
            .collect()[0]
        )
        rows.append(
            (
                rnd,
                int(best["split_bucket"]),
                float(best["gain"]),
                float(best["mu_left"]),
                float(best["mu_right"]),
            )
        )
        nxt = cur.select(
            "bucket",
            "n",
            (
                F.col("r")
                - F.when(
                    F.col("bucket") <= F.lit(int(best["split_bucket"])),
                    F.lit(float(best["mu_left"])),
                ).otherwise(F.lit(float(best["mu_right"])))
            ).alias("r"),
        ).localCheckpoint(eager=True)
        if cur is not hist:
            release(cur)
        cur = nxt
    release(hist)
    release(cur)
    return spark.createDataFrame(
        rows, "round int, split_bucket long, gain double, mu_left double, mu_right double"
    )


# ---------------------------------------------------------------------------
# Bartlett's test for homogeneity of variances (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "agg_bartlett_test",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(o_totalprice - {_EFF_CENTER}) AS sx,
             SUM((o_totalprice - {_EFF_CENTER}) * (o_totalprice - {_EFF_CENTER}))
               AS sxx
      FROM orders GROUP BY 1
    ),
    v AS (SELECT g, n, (sxx - sx * sx / n) / (n - 1) AS s2 FROM s),
    agg AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS DOUBLE) AS k,
             SUM((n - 1) * LN(s2)) AS sln,
             SUM((n - 1) * s2) AS ssp,
             SUM(1 / (n - 1)) AS sinv
      FROM v
    ),
    t AS (
      SELECT nt, k,
             ((nt - k) * LN(ssp / (nt - k)) - sln)
             / (1 + (sinv - 1 / (nt - k)) / (3 * (k - 1))) AS x2
      FROM agg
    )
    SELECT CAST(nt AS BIGINT) AS n, CAST(k - 1 AS BIGINT) AS df,
           ROUND(x2, 6) AS bartlett_x2,
           ROUND(EXP(-x2 / 2) * (1 + x2 / 2), 6) AS p_value,
           CAST(x2 > 9.487729 AS INTEGER) AS reject_05
    FROM t
    """,
)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test (1937) that the five order priorities share one
    price variance: X^2 = [(N-k) ln(s_p^2) - sum (n_i-1) ln(s_i^2)] / C
    with the standard correction C — the parametric counterpart of
    `agg_levene_test` (Levene is robust to non-normality; Bartlett is
    the more powerful test when normality holds, and running both is the
    textbook variance-homogeneity workflow before pooling in
    `agg_anova_oneway` / `agg_tukey_hsd`). With k = 5 the null is
    chi-square with df = 4 — an EVEN df, so the survival function is
    closed-form: p = exp(-x/2)(1 + x/2); both engines compute the exact
    p-value with plain EXP/LN (the agg_jarque_bera principle). TRUE NULL
    on the fixture: no rejection expected.

    Determinism: group variances come from pinned-center sums (the
    agg_effect_sizes discipline); one partial-aggregating groupBy to 5
    rows, then scalar algebra. 9.487729 = chi2(4, 0.95)."""
    o = load(spark, sf_dir, "orders")
    c = F.col("o_totalprice") - _EFF_CENTER
    s = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).alias("sx"),
        F.sum(c * c).alias("sxx"),
    )
    v = s.select(
        "g",
        "n",
        (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s2"),
    )
    agg = v.agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum((F.col("n") - 1) * F.log("s2")).alias("sln"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("ssp"),
        F.sum(1 / (F.col("n") - 1)).alias("sinv"),
    )
    nt, k = F.col("nt"), F.col("k")
    x2 = (
        (nt - k) * F.log(F.col("ssp") / (nt - k)) - F.col("sln")
    ) / (1 + (F.col("sinv") - 1 / (nt - k)) / (3 * (k - 1)))
    return agg.select(
        nt.cast("long").alias("n"),
        (k - 1).cast("long").alias("df"),
        F.round(x2, 6).alias("bartlett_x2"),
        F.round(F.exp(-x2 / 2) * (1 + x2 / 2), 6).alias("p_value"),
        (x2 > 9.487729).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Welch's heteroscedastic one-way ANOVA (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "agg_welch_anova",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(o_totalprice - {_EFF_CENTER}) AS sx,
             SUM((o_totalprice - {_EFF_CENTER}) * (o_totalprice - {_EFF_CENTER}))
               AS sxx
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT g, n, sx / n AS m,
             n / ((sxx - sx * sx / n) / (n - 1)) AS wi
      FROM s
    ),
    t1 AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(wi) AS sw,
             SUM(wi * m) / SUM(wi) AS gm
      FROM w
    ),
    t2 AS (
      SELECT t1.k, t1.sw, t1.gm,
             SUM(wi * (m - gm) * (m - gm)) / (t1.k - 1) AS num,
             SUM((1 - wi / t1.sw) * (1 - wi / t1.sw) / (n - 1)) AS lam
      FROM w CROSS JOIN t1 GROUP BY t1.k, t1.sw, t1.gm
    )
    SELECT CAST(k - 1 AS BIGINT) AS df1,
           ROUND((k * k - 1) / (3 * lam), 4) AS df2,
           ROUND(num / (1 + 2 * (k - 2) / (k * k - 1) * lam), 6) AS welch_f
    FROM t2
    """,
)
def agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951) of order price
    across the five priorities: weights w_i = n_i/s_i^2, F* =
    sum w_i (m_i - m_w)^2 / (k-1) over the Welch denominator, with the
    Welch-Satterthwaite df2 = (k^2-1)/(3 Lambda) — what `agg_anova_oneway`
    should become the moment `agg_levene_test` / `agg_bartlett_test`
    REJECT equal variances (the complete workflow this family now
    carries: test variances, then pick the pooled or the Welch F). The
    k-sample generalization of `agg_welch_ttest`. df2 is fractional by
    construction, so the statistic and both dfs are reported (p needs an
    F CDF neither engine has closed-form; the fixture's F* sits near 1
    under its true null, directly interpretable).

    Plan: ONE pinned-center partial-aggregating groupBy to 5 rows, then
    two tiny rollups — O(groups) algebra after a single O(rows) scan."""
    o = load(spark, sf_dir, "orders")
    c = F.col("o_totalprice") - _EFF_CENTER
    s = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).alias("sx"),
        F.sum(c * c).alias("sxx"),
    )
    w = s.select(
        "g",
        "n",
        (F.col("sx") / F.col("n")).alias("m"),
        (
            F.col("n")
            / ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1))
        ).alias("wi"),
    )
    t1 = w.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("wi").alias("sw"),
        (F.sum(F.col("wi") * F.col("m")) / F.sum("wi")).alias("gm"),
    )
    t2 = (
        w.crossJoin(F.broadcast(t1))
        .groupBy("k", "sw", "gm")
        .agg(
            (
                F.sum(
                    F.col("wi") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
                )
                / (F.first("k") - 1)
            ).alias("num"),
            F.sum(
                (1 - F.col("wi") / F.col("sw"))
                * (1 - F.col("wi") / F.col("sw"))
                / (F.col("n") - 1)
            ).alias("lam"),
        )
    )
    k, lam = F.col("k"), F.col("lam")
    return t2.select(
        (k - 1).cast("long").alias("df1"),
        F.round((k * k - 1) / (3 * lam), 4).alias("df2"),
        F.round(F.col("num") / (1 + 2 * (k - 2) / (k * k - 1) * lam), 6).alias(
            "welch_f"
        ),
    )


# ---------------------------------------------------------------------------
# Log-rank test for two survival curves (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "ml_logrank_test",
    oracle=f"""
    WITH ranked AS (
      SELECT o_custkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    per_cust AS (
      SELECT o_custkey,
             MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS first_o,
             MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS second_o,
             MIN(CASE WHEN rn = 1 THEN o_totalprice END) AS first_price
      FROM ranked WHERE rn <= 2 GROUP BY o_custkey
    ),
    subj AS (
      SELECT CASE WHEN second_o IS NOT NULL
                  THEN datediff('day', first_o, second_o)
                  ELSE datediff('day', first_o, TIMESTAMP '2001-08-01') END AS dur,
             CASE WHEN second_o IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CASE WHEN first_price > {_COX_THRESH} THEN 1 ELSE 0 END AS x
      FROM per_cust
    ),
    e0 AS (
      SELECT dur, CAST(COUNT(*) AS DOUBLE) AS m, CAST(SUM(ev) AS DOUBLE) AS d,
             CAST(SUM(x) AS DOUBLE) AS m1, CAST(SUM(ev * x) AS DOUBLE) AS d1
      FROM subj GROUP BY dur
    ),
    risk AS (
      SELECT dur, d, d1,
             SUM(m) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS nr,
             SUM(m1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS n1
      FROM e0
    ),
    terms AS (
      SELECT d1, d * n1 / nr AS e1,
             CASE WHEN nr > 1
                  THEN d * (n1 / nr) * (1 - n1 / nr) * (nr - d) / (nr - 1)
                  ELSE 0 END AS v1
      FROM risk WHERE d >= 1
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS observed_1,
           ROUND(SUM(e1), 4) AS expected_1,
           ROUND((SUM(d1) - SUM(e1)) * (SUM(d1) - SUM(e1)) / SUM(v1), 6)
             AS logrank_x2,
           ROUND((SUM(d1) - SUM(e1)) / SQRT(SUM(v1)), 6) AS z_stat,
           CAST((SUM(d1) - SUM(e1)) * (SUM(d1) - SUM(e1)) / SUM(v1) > 3.841459
                AS INTEGER) AS reject_05
    FROM terms
    """,
)
def ml_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test that the big-first-order and
    small-first-order customers share one repeat-purchase survival
    curve — the hypothesis-test capstone of the survival family
    (`orders_survival_km` draws the curves, `ml_cox_ph` sizes the
    effect, THIS tests it non-parametrically): at each event time the
    group-1 events d1 are compared against the hypergeometric
    expectation d n1/n with variance d (n1/n)(1-n1/n)(n-d)/(n-1), and
    X^2 = (O-E)^2/V ~ chi2(1). TRUE NULL on the fixture (first-order
    size independent of repeat timing), consistent with ml_cox_ph's
    beta ~ 0. 3.841459 = chi2(1, 0.95).

    Plan: the IDENTICAL contraction as ml_cox_ph — per-customer window,
    one groupBy to the O(distinct durations) histogram, descending
    cumulative risk counts — then one aggregate. No iteration at all:
    the log-rank statistic is a single closed-form pass, which is why
    it is the default first look before any Cox fit."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey", "o_orderdate", "o_totalprice", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    per_cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("first_o"),
        F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("second_o"),
        F.min(F.when(F.col("rn") == 1, F.col("o_totalprice"))).alias("first_price"),
    )
    end = F.lit("2001-08-01").cast("timestamp")
    dur = F.when(
        F.col("second_o").isNotNull(),
        F.datediff(F.col("second_o").cast("date"), F.col("first_o").cast("date")),
    ).otherwise(F.datediff(end.cast("date"), F.col("first_o").cast("date")))
    subj = per_cust.select(
        dur.alias("dur"),
        F.col("second_o").isNotNull().cast("int").alias("ev"),
        (F.col("first_price") > _COX_THRESH).cast("int").alias("x"),
    )
    e0 = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("ev").cast("double").alias("d"),
        F.sum("x").cast("double").alias("m1"),
        F.sum(F.col("ev") * F.col("x")).cast("double").alias("d1"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = e0.select(
        "d",
        "d1",
        F.sum("m").over(w_desc).alias("nr"),
        F.sum("m1").over(w_desc).alias("n1"),
    ).filter(F.col("d") >= 1)
    e1 = F.col("d") * F.col("n1") / F.col("nr")
    v1 = F.when(
        F.col("nr") > 1,
        F.col("d")
        * (F.col("n1") / F.col("nr"))
        * (1 - F.col("n1") / F.col("nr"))
        * (F.col("nr") - F.col("d"))
        / (F.col("nr") - 1),
    ).otherwise(F.lit(0.0))
    agg = risk.agg(
        F.sum("d1").alias("o1"),
        F.sum(e1).alias("e1"),
        F.sum(v1).alias("v1"),
    )
    x2 = (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v1")
    return agg.select(
        F.col("o1").cast("long").alias("observed_1"),
        F.round(F.col("e1"), 4).alias("expected_1"),
        F.round(x2, 6).alias("logrank_x2"),
        F.round(
            (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v1")), 6
        ).alias("z_stat"),
        (x2 > 3.841459).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "agg_capture_recapture",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate < TIMESTAMP '1994-01-01'),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1994-01-01'),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM a) AS n1,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM b) AS n2,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM a JOIN b USING (o_custkey))
               AS m
    )
    SELECT CAST(n1 AS BIGINT) AS n_sample1,
           CAST(n2 AS BIGINT) AS n_sample2,
           CAST(m AS BIGINT) AS n_both,
           ROUND((n1 + 1) * (n2 + 1) / (m + 1) - 1, 3) AS n_hat_chapman,
           ROUND(SQRT((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                      / ((m + 1) * (m + 1) * (m + 2))), 3) AS se,
           ROUND(((n1 + 1) * (n2 + 1) / (m + 1) - 1)
                 - 1.96 * SQRT((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                               / ((m + 1) * (m + 1) * (m + 2))), 3) AS ci_lo,
           ROUND(((n1 + 1) * (n2 + 1) / (m + 1) - 1)
                 + 1.96 * SQRT((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                               / ((m + 1) * (m + 1) * (m + 2))), 3) AS ci_hi
    FROM c
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation with the Chapman (1951)
    bias-corrected Lincoln-Petersen estimator: customers active before
    1994 are the first capture, customers active from 1994 the second,
    and N_hat = (n1+1)(n2+1)/(m+1) - 1 estimates the TOTAL customer
    universe from the overlap — the ecology classic that data engineers
    reuse to estimate true entity counts behind incomplete extracts
    (how many customers exist if two feeds each see a biased sample?).
    Seber's variance gives the 95% CI. The fixture's truth (every
    customer with any order) is recoverable, so the pytest pins that
    the CI brackets the actual distinct-customer count.

    Plan: two distinct-contractions and one equi-join on customer key —
    every stage is a hash aggregate; at 100 TB the DISTINCTs are the
    only shuffles and they carry key cardinality, not order volume."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit("1994-01-01").cast("timestamp")
    a = o.filter(F.col("o_orderdate") < cut).select("o_custkey").distinct()
    b = o.filter(F.col("o_orderdate") >= cut).select("o_custkey").distinct()
    n1 = a.agg(F.count(F.lit(1)).cast("double").alias("n1"))
    n2 = b.agg(F.count(F.lit(1)).cast("double").alias("n2"))
    m = a.join(b, "o_custkey").agg(F.count(F.lit(1)).cast("double").alias("m"))
    j = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    nhat = (F.col("n1") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1
    se = F.sqrt(
        (F.col("n1") + 1)
        * (F.col("n2") + 1)
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / ((F.col("m") + 1) * (F.col("m") + 1) * (F.col("m") + 2))
    )
    return j.select(
        F.col("n1").cast("long").alias("n_sample1"),
        F.col("n2").cast("long").alias("n_sample2"),
        F.col("m").cast("long").alias("n_both"),
        F.round(nhat, 3).alias("n_hat_chapman"),
        F.round(se, 3).alias("se"),
        F.round(nhat - 1.96 * se, 3).alias("ci_lo"),
        F.round(nhat + 1.96 * se, 3).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# One-way ANCOVA (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "agg_ancova",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, CAST(COUNT(*) AS DOUBLE) AS x FROM lineitem GROUP BY 1
    ),
    d AS (
      SELECT o.o_orderpriority AS g, li.x,
             o.o_totalprice - {_EFF_CENTER} AS y
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    ),
    s AS (
      SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM d GROUP BY g
    ),
    w AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS nt,
             SUM(sxx - sx * sx / n) AS exx,
             SUM(sxy - sx * sy / n) AS exy,
             SUM(syy - sy * sy / n) AS eyy,
             SUM(sx) AS tx, SUM(sy) AS ty,
             SUM(sxx) AS txx, SUM(sxy) AS txy, SUM(syy) AS tyy
      FROM s
    ),
    f AS (
      SELECT k, nt,
             eyy - exy * exy / exx AS sse_within,
             (tyy - ty * ty / nt)
               - (txy - tx * ty / nt) * (txy - tx * ty / nt)
                 / (txx - tx * tx / nt) AS sse_total,
             exy / exx AS beta_w
      FROM w
    )
    SELECT CAST(nt AS BIGINT) AS n,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(nt - k - 1 AS BIGINT) AS df2,
           ROUND(beta_w, 6) AS pooled_slope,
           ROUND(((sse_total - sse_within) / (k - 1))
                 / (sse_within / (nt - k - 1)), 6) AS f_stat,
           CAST(((sse_total - sse_within) / (k - 1))
                / (sse_within / (nt - k - 1)) > 2.372 AS INTEGER) AS reject_05
    FROM f
    """,
)
def agg_ancova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANCOVA (Fisher): does order priority affect total price
    AFTER adjusting for the order's lineitem count? The covariate soaks
    up the variance the raw ANOVA charges to noise: F = ((SSE_total -
    SSE_within)/(k-1)) / (SSE_within/(N-k-1)), where each SSE is the
    residual sum of squares of a regression on the covariate — total
    fits ONE line, within fits a pooled within-group slope with
    per-group intercepts (the standard partitioned-sums identity, no
    design matrix needed for one covariate). The missing member between
    `agg_anova_oneway` (no covariate) and `ml_did_estimator`
    (two-factor adjustment). TRUE NULL on the fixture: priority is
    independent of price given anything, so F sits near 1; 2.372 =
    F(4, inf, 0.95).

    Plan: one lineitem contraction + one equi-join + ONE
    partial-aggregating groupBy to 5 rows of pinned-center sums (the
    agg_effect_sizes discipline); everything after is scalar algebra."""
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    o = load(spark, sf_dir, "orders")
    d = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_orderpriority").alias("g"),
        "x",
        (F.col("o_totalprice") - _EFF_CENTER).alias("y"),
    )
    s = d.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    w = s.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("nt"),
        F.sum(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).alias("exx"),
        F.sum(F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")).alias("exy"),
        F.sum(F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("eyy"),
        F.sum("sx").alias("tx"),
        F.sum("sy").alias("ty"),
        F.sum("sxx").alias("txx"),
        F.sum("sxy").alias("txy"),
        F.sum("syy").alias("tyy"),
    )
    sse_within = F.col("eyy") - F.col("exy") * F.col("exy") / F.col("exx")
    sse_total = (
        F.col("tyy") - F.col("ty") * F.col("ty") / F.col("nt")
    ) - (F.col("txy") - F.col("tx") * F.col("ty") / F.col("nt")) * (
        F.col("txy") - F.col("tx") * F.col("ty") / F.col("nt")
    ) / (F.col("txx") - F.col("tx") * F.col("tx") / F.col("nt"))
    fstat = ((sse_total - sse_within) / (F.col("k") - 1)) / (
        sse_within / (F.col("nt") - F.col("k") - 1)
    )
    return w.select(
        F.col("nt").cast("long").alias("n"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("nt") - F.col("k") - 1).cast("long").alias("df2"),
        F.round(F.col("exy") / F.col("exx"), 6).alias("pooled_slope"),
        F.round(fstat, 6).alias("f_stat"),
        (fstat > 2.372).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Instrumental-variable (Wald) estimator (round 11 tail)
# ---------------------------------------------------------------------------
_IV_EFFECT = 1.5  # planted true causal effect of x on y
_IV_CONF = 3.0    # planted confounder loading on y (biases OLS upward)


@register(
    "ml_iv_wald_estimator",
    oracle=f"""
    WITH d AS (
      SELECT CAST(CAST(concat('0x', substr(md5(concat('ivz-',
               CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 2 AS DOUBLE)
               AS z,
             (CAST(concat('0x', substr(md5(concat('ivc-',
               CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1000001)
               / 1000000.0 AS c,
             (CAST(concat('0x', substr(md5(concat('ive-',
               CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1000001)
               / 1000000.0 AS e1,
             (CAST(concat('0x', substr(md5(concat('ivf-',
               CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1000001)
               / 1000000.0 AS e2
      FROM orders
    ),
    xy AS (
      SELECT z, 2 * c + 0.5 * z + 0.3 * e1 AS x,
             {_IV_EFFECT} * (2 * c + 0.5 * z + 0.3 * e1)
               + {_IV_CONF} * c + 0.3 * e2 AS y
      FROM d
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(x) AS mx, AVG(y) AS my, AVG(z) AS mz,
             AVG(x * y) AS mxy, AVG(x * x) AS mxx,
             AVG(z * y) AS mzy, AVG(z * x) AS mzx, AVG(z * z) AS mzz
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((mxy - mx * my) / (mxx - mx * mx), 6) AS beta_ols,
           ROUND((mzy - mz * my) / (mzx - mz * mx), 6) AS beta_iv,
           ROUND((mzx - mz * mx) * (mzx - mz * mx) / (mzz - mz * mz)
                 / ((mxx - mx * mx)
                    - (mzx - mz * mx) * (mzx - mz * mx) / (mzz - mz * mz))
                 * (n - 2), 4) AS first_stage_f
    FROM s
    """,
)
def ml_iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable estimation (the Wald / two-stage-least-
    squares estimator with one binary instrument): a planted structural
    system — confounder c drives BOTH treatment x and outcome y, a
    random "encouragement" coin z shifts x only — where naive OLS is
    biased upward by construction ({_IV_EFFECT} + confounding) and the
    IV ratio cov(z,y)/cov(z,x) recovers the true effect {_IV_EFFECT}.
    The missing member of the causal family (`ml_did_estimator` needs
    panel structure, `ml_regression_discontinuity` a threshold,
    `ml_ipw_ate` observed confounders; IV is what you run when the
    confounder is UNOBSERVED but an instrument exists). The first-stage
    F (instrument strength) is reported because a weak instrument
    invalidates the whole design (rule of thumb F > 10).

    Determinism: the structural system is md5-derandomized per order
    (four independent 60-bit uniforms); everything else is ONE
    moment-aggregate pass — no iteration, no join. Pytest pins
    beta_iv ~ {_IV_EFFECT} within sampling error while beta_ols is
    biased away by > 10 standard errors."""
    o = load(spark, sf_dir, "orders")

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag + "-"), F.col("o_orderkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    z = (h("ivz") % 2).cast("double")
    c = (h("ivc") % 1000001) / 1000000.0
    e1 = (h("ive") % 1000001) / 1000000.0
    e2 = (h("ivf") % 1000001) / 1000000.0
    x = 2 * c + 0.5 * z + 0.3 * e1
    y = _IV_EFFECT * x + _IV_CONF * c + 0.3 * e2
    s = o.select(z.alias("z"), x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg("z").alias("mz"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("z") * F.col("y")).alias("mzy"),
        F.avg(F.col("z") * F.col("x")).alias("mzx"),
        F.avg(F.col("z") * F.col("z")).alias("mzz"),
    )
    cxy = F.col("mxy") - F.col("mx") * F.col("my")
    vxx = F.col("mxx") - F.col("mx") * F.col("mx")
    czy = F.col("mzy") - F.col("mz") * F.col("my")
    czx = F.col("mzx") - F.col("mz") * F.col("mx")
    vzz = F.col("mzz") - F.col("mz") * F.col("mz")
    expl = czx * czx / vzz
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(cxy / vxx, 6).alias("beta_ols"),
        F.round(czy / czx, 6).alias("beta_iv"),
        F.round(expl / (vxx - expl) * (F.col("n") - 2), 4).alias("first_stage_f"),
    )


# ---------------------------------------------------------------------------
# Heterogeneous-treatment-effect subgroup scan (round 11 tail)
# ---------------------------------------------------------------------------
_HTE_LIFT = 60000.0  # planted effect, BUILDING only (the fixture price sigma ~9e4, so a detectable lift must be of that order)
_HTE_Z = _norm_inv(1 - 0.05 / (2 * 5))  # Bonferroni: 5 segments, two-sided


@register(
    "ml_hte_subgroup_scan",
    oracle=f"""
    WITH d AS (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(concat('0x', substr(md5(concat('hte-',
               CAST(o.o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 2
               AS INTEGER) AS t,
             o.o_totalprice
             + CASE WHEN c.c_mktsegment = 'BUILDING'
                    AND CAST(concat('0x', substr(md5(concat('hte-',
                      CAST(o.o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 1
                    THEN {_HTE_LIFT} ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
      SELECT segment, t, CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(y) AS m, var_samp(y) AS v
      FROM d GROUP BY 1, 2
    )
    SELECT a.segment,
           CAST(a.n AS BIGINT) AS n_treat, CAST(b.n AS BIGINT) AS n_ctrl,
           ROUND(a.m - b.m, 4) AS uplift,
           ROUND((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n), 4) AS z_stat,
           CAST(ABS((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n)) > {_HTE_Z}
                AS INTEGER) AS significant
    FROM s a JOIN s b ON a.segment = b.segment AND a.t = 1 AND b.t = 0
    ORDER BY a.segment
    """,
)
def ml_hte_subgroup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-treatment-effect subgroup scan — the post-experiment
    question every team asks next ("the average effect is X, but WHO is
    it working for?"), done with the guardrail it requires: per-segment
    treated-vs-control Welch z with the BONFERRONI critical value
    {_HTE_Z:.3f} (alpha/10 two-sided for 5 subgroups), because scanning
    subgroups at the nominal 1.96 is the classic false-discovery
    machine. Treatment is an md5 coin per order; a {_HTE_LIFT:.0f} lift
    is PLANTED in the BUILDING segment only, so exactly one subgroup
    must flag and the other four must hold their true null (pytest-
    pinned both ways).

    Plan: one join + ONE partial-aggregating groupBy to (segment,
    treated) cells; the scan is 5x2 algebra. At 100 TB subgroup scans
    are exactly this contraction — never per-subgroup passes."""
    o = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    t = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hte-"), F.col("o_orderkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    d = o.join(cust, cust["c_custkey"] == o["o_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        t.alias("t"),
        (
            F.col("o_totalprice")
            + F.when((F.col("c_mktsegment") == "BUILDING") & (t == 1), _HTE_LIFT)
            .otherwise(0.0)
        ).alias("y"),
    )
    s = d.groupBy("segment", "t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    a = s.filter(F.col("t") == 1).select(
        "segment", F.col("n").alias("nt"), F.col("m").alias("mt"), F.col("v").alias("vt")
    )
    b = s.filter(F.col("t") == 0).select(
        "segment", F.col("n").alias("nc"), F.col("m").alias("mc"), F.col("v").alias("vc")
    )
    zed = (F.col("mt") - F.col("mc")) / F.sqrt(
        F.col("vt") / F.col("nt") + F.col("vc") / F.col("nc")
    )
    return (
        a.join(b, "segment")
        .select(
            "segment",
            F.col("nt").cast("long").alias("n_treat"),
            F.col("nc").cast("long").alias("n_ctrl"),
            F.round(F.col("mt") - F.col("mc"), 4).alias("uplift"),
            F.round(zed, 4).alias("z_stat"),
            (F.abs(zed) > _HTE_Z).cast("int").alias("significant"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "ml_breusch_pagan",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, CAST(COUNT(*) AS DOUBLE) AS x FROM lineitem GROUP BY 1
    ),
    d AS (
      SELECT li.x, o.o_totalprice AS y
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(x) AS mx, AVG(y) AS my,
             ROUND((AVG(x * y) - AVG(x) * AVG(y))
                   / (AVG(x * x) - AVG(x) * AVG(x)), 9) AS b
      FROM d
    ),
    fit2 AS (SELECT n, mx, b, ROUND(my - b * mx, 9) AS a FROM fit),
    e AS (
      SELECT x, (y - (a + b * x)) * (y - (a + b * x)) AS e2, n
      FROM d CROSS JOIN fit2
    ),
    r AS (
      SELECT MAX(n) AS n,
             (AVG(x * e2) - AVG(x) * AVG(e2)) * (AVG(x * e2) - AVG(x) * AVG(e2))
               / ((AVG(x * x) - AVG(x) * AVG(x))
                  * (AVG(e2 * e2) - AVG(e2) * AVG(e2))) AS r2
      FROM e
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(n * r2, 6) AS lm_stat,
           ROUND(r2, 9) AS r2_aux,
           CAST(n * r2 > 3.841459 AS INTEGER) AS reject_05
    FROM r
    """,
)
def ml_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan / Koenker heteroscedasticity test on the order-value
    ~ lineitem-count regression: LM = n R^2 of the auxiliary regression
    of SQUARED residuals on the regressor, ~ chi2(1) under
    homoscedasticity. The diagnostic that decides whether the OLS family
    (`agg_linreg`, `ml_ridge_regression`, `ml_conformal_interval`'s
    fit) may quote its classical standard errors or must go robust. On
    this fixture the answer is measured, not assumed: order value turns
    out INDEPENDENT of lineitem count (the same flat relationship
    ml_conformal_interval's near-zero slope shows), so the conditional
    variance is flat and the LM test correctly HOLDS ITS NULL at every
    scale factor (LM ~ 1-2 vs chi2(1); pinned by pytest).

    Determinism: the OLS pair is re-quantized at 9dp (the
    ml_conformal_interval discipline) so every squared residual is
    bit-identical cross-engine; both passes are single moment
    aggregates — no window, no iteration. 3.841459 = chi2(1, 0.95)."""
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    o = load(spark, sf_dir, "orders")
    d = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "x", F.col("o_totalprice").alias("y")
    )
    fit = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.round(
            (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
            / (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")),
            9,
        ).alias("b"),
    ).select(
        "n", "mx", "b", F.round(F.col("my") - F.col("b") * F.col("mx"), 9).alias("a")
    )
    e2 = (F.col("y") - (F.col("a") + F.col("b") * F.col("x"))) * (
        F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    )
    r = d.crossJoin(F.broadcast(fit)).select("x", e2.alias("e2"), "n").agg(
        F.max("n").alias("n"),
        (
            (F.avg(F.col("x") * F.col("e2")) - F.avg("x") * F.avg("e2"))
            * (F.avg(F.col("x") * F.col("e2")) - F.avg("x") * F.avg("e2"))
            / (
                (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"))
                * (F.avg(F.col("e2") * F.col("e2")) - F.avg("e2") * F.avg("e2"))
            )
        ).alias("r2"),
    )
    lm = F.col("n") * F.col("r2")
    return r.select(
        F.col("n").cast("long").alias("n"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(F.col("r2"), 9).alias("r2_aux"),
        (lm > 3.841459).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Theil inequality decomposition (round 11 tail)
# ---------------------------------------------------------------------------
@register(
    "agg_theil_decomposition",
    oracle="""
    WITH d AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
      SELECT segment, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS s,
             SUM(x * LN(x)) AS sxl
      FROM d GROUP BY segment
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(s) AS st FROM g),
    parts AS (
      SELECT g.segment, g.n, g.s,
             -- within-group Theil T weighted by the group's income share
             (g.sxl / g.s - LN(g.s / g.n)) AS t_within_g,
             (g.s / tot.st) * LN((g.s / tot.st) / (g.n / tot.nt)) AS t_between_g,
             g.s / tot.st AS share
      FROM g CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           ROUND(SUM(share * t_within_g) + SUM(t_between_g), 6) AS theil_total,
           ROUND(SUM(share * t_within_g), 6) AS theil_within,
           ROUND(SUM(t_between_g), 6) AS theil_between,
           ROUND(SUM(t_between_g)
                 / (SUM(share * t_within_g) + SUM(t_between_g)), 6)
             AS between_share
    FROM parts
    """,
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index with its exact between/within
    decomposition by market segment: T = sum_g share_g T_g (within) +
    sum_g share_g ln(share_g / popshare_g) (between) — the property
    that makes Theil the inequality measure for group analysis where
    `agg_gini` / `agg_lorenz_curve` cannot decompose additively. The
    fixture's prices are segment-independent, so the between term must
    be ~0 and essentially all inequality within (pytest pins the
    decomposition identity AND that between/total is negligible).

    The group Theil uses the one-pass identity T_g = E[x ln x]/mu -
    ln(mu) on positive values (o_totalprice > 0 always), so the whole
    operator is ONE partial-aggregating groupBy to 5 rows of (n, sum,
    sum x ln x) plus scalar algebra — the same contraction cost as a
    plain mean at any data volume."""
    o = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    d = o.join(cust, cust["c_custkey"] == o["o_custkey"]).select(
        F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("x")
    )
    g = d.groupBy("segment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.log("x")).alias("sxl"),
    )
    tot = g.agg(F.sum("n").alias("nt"), F.sum("s").alias("st"))
    parts = g.crossJoin(F.broadcast(tot)).select(
        (F.col("sxl") / F.col("s") - F.log(F.col("s") / F.col("n"))).alias("tw"),
        (
            (F.col("s") / F.col("st"))
            * F.log((F.col("s") / F.col("st")) / (F.col("n") / F.col("nt")))
        ).alias("tb"),
        (F.col("s") / F.col("st")).alias("share"),
    )
    within = F.sum(F.col("share") * F.col("tw"))
    between = F.sum("tb")
    return parts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.round(within + between, 6).alias("theil_total"),
        F.round(within, 6).alias("theil_within"),
        F.round(between, 6).alias("theil_between"),
        F.round(between / (within + between), 6).alias("between_share"),
    )
