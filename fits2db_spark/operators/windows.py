"""Window-function operators (SURVEY.md §2.E).

Every window uses a deterministic ORDER BY (unique key as final tiebreak) so
the oracle comparison is exact. Scale note: a window spec shuffles once on its
partition keys; specs sharing (partitionBy, orderBy) reuse the same sort, so
the multi-function queries below cost one exchange + one sort total. An
ungrouped global window (no partitionBy) would serialize onto one task — none
are used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import daily_value_series, load


@register(
    "win_row_number",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    """,
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))


@register(
    "win_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
           NTILE(4)       OVER w AS quartile,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts_us,
           epoch_us(CAST(ts AS TIMESTAMP))
             - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w) AS delta_us,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event deltas via lag/lead — classic sessionization precursor."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("ts_us"),
        (ts_us - F.unix_micros(F.lag("ts").over(w))).alias("delta_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "win_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(AVG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS range_sum
    FROM orders
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding frames: ROWS (last 3 rows) and RANGE (numeric ±5 on the key)."""
    o = load(spark, sf_dir, "orders")
    w_rows = (
        Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
    )
    w_range = Window.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-5, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w_rows), 4).alias("ma3"),
        F.round(F.sum("o_totalprice").over(w_range), 2).alias("range_sum"),
    )


@register(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
           FIRST_VALUE(CASE WHEN o_orderstatus = 'P' THEN o_orderkey END IGNORE NULLS)
             OVER w AS first_pending
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.first(
            F.when(F.col("o_orderstatus") == "P", F.col("o_orderkey")), ignorenulls=True
        )
        .over(w)
        .alias("first_pending"),
    )


@register(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group. At scale Spark pushes a per-partition k-row limit
    below the exchange (WindowGroupLimit) so only k rows per key shuffle."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ), 2) AS spend_30d,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_30d
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day per-customer spend via a RANGE window frame — the
    value-based frame (all rows within an interval of the current row's sort
    key, peers included) that a ROWS frame cannot express when order counts
    per day vary. Spark's rangeBetween needs a numeric sort key, so the
    frame runs over unix seconds; DuckDB's oracle uses the native INTERVAL
    frame — same semantics. One shuffle on o_custkey, one sort."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


@register(
    "win_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS price_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — quartile bucketing (ntile),
    percent_rank, and cume_dist per order priority, the remaining §2.E
    surface next to ranking/offset/frame functions. The o_orderkey
    tie-break makes ntile assignment engine-deterministic (equal prices
    would otherwise split across quartile boundaries arbitrarily).
    Scale: all three share ONE (partition, sort) pass — a single shuffle +
    sort, no extra exchange per function."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "win_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
      FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS g
      FROM days
    ),
    streaks AS (
      SELECT user_id, MIN(d) AS streak_start,
             CAST(COUNT(*) AS BIGINT) AS streak_days
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id, streak_days, streak_start
    FROM (
      SELECT user_id, streak_days, streak_start,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY streak_days DESC, streak_start) AS rk
      FROM streaks)
    WHERE rk = 1
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of consecutive active days per user
    (ties broken by earliest start) — the classic SQL streak/sessionize-
    by-calendar pattern (login streaks, sensor uptime, SLA windows). The
    island key is the date minus the per-user day row_number: consecutive
    days share it, any gap shifts it.

    Scale: both windows partition by user_id (no global sort), the
    distinct-days aggregate partial-aggregates map-side before its
    shuffle, and all three shuffles share the user_id key so Spark reuses
    one exchange. State per user is its distinct-day count — bounded by
    the calendar, not the event volume."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id", "d", F.date_sub(F.col("d"), F.row_number().over(w)).alias("g")
    )
    streaks = grp.groupBy("user_id", "g").agg(
        F.min("d").alias("streak_start"),
        F.count(F.lit(1)).cast("long").alias("streak_days"),
    )
    rk = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), "streak_start"
    )
    return (
        streaks.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


@register(
    "win_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CASE WHEN value >= 5 THEN value END, 2) AS raw,
           ROUND(LAST_VALUE(CASE WHEN value >= 5 THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS filled
    FROM events
    """,
)
def win_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF — last observation carried forward): sensor
    readings below the sensitivity floor (< 5 here) become NULL, then each
    gap takes the most recent valid reading per user — ``last(...,
    ignorenulls=True)`` over a running frame, the time-series imputation
    every gap-ridden metric stream needs before aggregation. Leading
    NULLs (no prior observation) stay NULL on both engines.

    Scale: one window per user (shuffle on user_id, in-partition sort);
    state is a single value per partition cursor — the cheapest possible
    windowed imputation (vs interpolation, which needs the NEXT value too
    and a second reversed pass)."""
    ev = load(spark, sf_dir, "events")
    x = F.when(F.col("value") >= 5, F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(x, 2).alias("raw"),
        F.round(F.last(x, ignorenulls=True).over(w), 2).alias("filled"),
    )


@register(
    "win_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             SUM(value) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, d,
           ROUND(quantile_cont(v, 0.5) OVER (
             PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
    FROM daily
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of the daily per-type revenue — the
    robust alternative to the rolling mean (one spike day cannot drag
    it). Spark has no percentile window aggregate, so the frame is
    collected into a bounded array (≤7 doubles) and the interpolating
    median computed with JVM array functions: sort, then midpoint of the
    two central elements on even counts — exactly ``quantile_cont(0.5)``
    frame semantics, which is what the DuckDB oracle runs natively.

    Scale: the raw stream collapses to O(days) rows per type before the
    window runs, and per-row frame state is at most 7 doubles — the
    collect_list is bounded by the FRAME, not the data, which is the
    condition under which this pattern is legitimate (an unbounded-frame
    collect_list would be a scale bug, not an operator)."""
    daily = daily_value_series(spark, sf_dir, agg="sum")
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    frame = F.array_sort(F.collect_list("v").over(w))
    n = F.size(frame)
    lo = F.element_at(frame, ((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, (n / 2 + 1).cast("int"))
    return daily.select(
        "event_type",
        "d",
        F.round((lo + hi) / 2.0, 6).alias("med7"),
    )


@register(
    "win_cumulative_distinct",
    oracle="""
    WITH firsts AS (
      SELECT event_type, user_id,
             MIN(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS d
      FROM events GROUP BY 1, 2
    ),
    daily_new AS (
      SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1, 2
    ),
    days AS (
      SELECT DISTINCT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
      FROM events
    )
    SELECT dy.event_type, dy.d,
           COALESCE(dn.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(dn.new_users, 0)) OVER (
             PARTITION BY dy.event_type ORDER BY dy.d) AS BIGINT)
             AS cumulative_reach
    FROM days dy LEFT JOIN daily_new dn
      ON dn.event_type = dy.event_type AND dn.d = dy.d
    """,
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count — the cumulative-reach curve (distinct users
    ever seen, per event type, by day). COUNT(DISTINCT) OVER a running
    frame is unsupported in every engine for good reason (per-row set
    state); the scalable identity is first-occurrence reduction: each
    (type, user) contributes on its FIRST day only, so the curve is a
    plain running SUM of daily first-timer counts.

    Plan: one (type, user) min-day partial agg — the only stage that sees
    event volume — then a daily count and a running-sum window over
    series-length rows. The window partition is the TYPE (5 rows x days),
    never users; at 100 TB this is the difference between a terabyte of
    window state and a few kilobytes."""
    ev = load(spark, sf_dir, "events")
    d_col = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    )
    firsts = (
        ev.select("event_type", "user_id", d_col.alias("d"))
        .groupBy("event_type", "user_id")
        .agg(F.min("d").alias("d"))
    )
    daily_new = firsts.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    days = ev.select("event_type", d_col.alias("d")).distinct()
    w = Window.partitionBy("event_type").orderBy("d")
    return (
        days.join(daily_new, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn(
            "cumulative_reach",
            F.sum("new_users").over(w).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding distinct count (round 8)
# ---------------------------------------------------------------------------


@register(
    "win_sliding_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             user_id
      FROM events
    ),
    maxd AS (SELECT MAX(d) AS md FROM ud),
    contrib AS (
      SELECT DISTINCT ud.event_type, ud.user_id, ud.d + o.o AS w
      FROM ud CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS o(o)
    )
    SELECT c.event_type, CAST(c.w AS INT) AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS users_7d
    FROM contrib c CROSS JOIN maxd
    WHERE c.w <= maxd.md
    GROUP BY 1, 2
    """,
)
def win_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per (type, day) — the DAU/WAU-style
    rolling-reach metric. COUNT(DISTINCT) over a sliding window frame has
    no native form (distinct state can't merge incrementally in a frame),
    so the scalable rewrite is contribution expansion: each (user, active
    day) contributes to the 7 windows ending on days d..d+6, then one
    DISTINCT + count per window — a fixed x7 row expansion of the
    ALREADY-DEDUPLICATED (type, user, day) activity table, never a
    per-window re-scan and never per-user window state. The sliding
    sibling of `win_cumulative_distinct` (whose first-occurrence trick
    only works for unbounded frames).

    Windows past the last observed day are dropped (their trailing range
    is truncated); both engines apply the same cut. All integer math."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
        "user_id",
    ).distinct()
    maxd = ud.agg(F.max("d").alias("md"))
    offs = spark.range(7).select(F.col("id").cast("int").alias("o"))
    contrib = (
        ud.crossJoin(F.broadcast(offs))
        .select("event_type", "user_id", (F.col("d") + F.col("o")).alias("w"))
        .distinct()
    )
    return (
        contrib.crossJoin(F.broadcast(maxd))
        .filter(F.col("w") <= F.col("md"))
        .groupBy("event_type", F.col("w").cast("int").alias("day_idx"))
        .agg(F.count(F.lit(1)).cast("long").alias("users_7d"))
    )
