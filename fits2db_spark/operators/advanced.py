"""Advanced relational + pipeline operators beyond the core §2 inventory:
subqueries (scalar / IN / correlated — exercising Catalyst decorrelation),
time-series gap-fill, sampling, iterative k-means, and the block-matmul ANN
scale path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import memo, release
from ..tables import load


@register(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery -> Catalyst plans a one-row broadcast.

    The threshold is 1.5x the mean (r7: was 2x, which NO fixture row ever
    exceeded at either tier, so the oracle hash compared empty multisets and
    could not catch a logic error — de-vacuated per the r6 verdict; 1.5x
    keeps ~9% of orders at sf0.01 and sf0.1 alike because the totalprice
    distribution is scale-invariant)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("f2s_orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
        FROM f2s_orders_sq
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM f2s_orders_sq)
        """
    )


@register(
    "subquery_in",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      AND c_mktsegment = 'BUILDING'
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery -> rewritten to a left-semi join by the optimizer."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("f2s_cust_sq")
    load(spark, sf_dir, "orders").createOrReplaceTempView("f2s_ord_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM f2s_cust_sq
        WHERE c_custkey IN (SELECT o_custkey FROM f2s_ord_sq
                            WHERE o_orderpriority = '1-URGENT')
          AND c_mktsegment = 'BUILDING'
        """
    )


@register(
    "subquery_correlated",
    oracle="""
    SELECT p.p_partkey, p.p_brand, ROUND(p.p_retailprice, 2) AS price
    FROM part p
    WHERE p.p_retailprice > 1.01 * (SELECT AVG(p2.p_retailprice) FROM part p2
                                   WHERE p2.p_brand = p.p_brand)
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (parts priced 1% above their brand's
    mean) — Catalyst decorrelates to an aggregate + join; DuckDB does the
    same rewrite, so results match exactly."""
    load(spark, sf_dir, "part").createOrReplaceTempView("f2s_part_sq")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, ROUND(p.p_retailprice, 2) AS price
        FROM f2s_part_sq p
        WHERE p.p_retailprice > 1.01 * (SELECT AVG(p2.p_retailprice) FROM f2s_part_sq p2
                                       WHERE p2.p_brand = p.p_brand)
        """
    )


@register(
    "gapfill_timeseries",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS hi
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM bounds
    ),
    agg AS (
      SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_start,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT g.hour_start, COALESCE(a.n, 0) AS n_purchases
    FROM grid g LEFT JOIN agg a USING (hour_start)
    """,
)
def gapfill_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time grid with zero-filled gaps: sequence() generates the
    grid (one row, exploded — no driver loop), left join fills. The standard
    resample/gap-fill primitive for event streams."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grid.join(agg, "hour_start", "left").select(
        "hour_start", F.coalesce(F.col("n"), F.lit(0)).alias("n_purchases")
    )


def sample_fraction_rng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-RNG Bernoulli sampling (``df.sample``) with a fixed seed —
    kept as a module function for users who want Spark's native sampler;
    not registered because the RNG stream is engine-specific."""
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


@register(
    "sample_fraction",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), '-',
                 CAST(l_linenumber AS VARCHAR))), 1, 15)) AS BIGINT) % 1000 < 100
    """,
)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample keyed on md5 of the row's PK —
    the reshuffle-proof subsample convention (same trick as
    split_train_test): membership is a pure function of the key, so the
    sample is identical across runs, engines, partitionings, and appends.
    Scale: a narrow map + filter, fully pushed into the scan stage; no RNG
    state, no shuffle. The engine-RNG variant remains available as
    ``sample_fraction_rng``."""
    from .llm_text import _h64

    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey").cast("string"),
                      F.col("l_linenumber").cast("string"))
    return li.filter(F.pmod(_h64(key), F.lit(1000)) < 100).select(
        "l_orderkey", "l_linenumber"
    )


def sample_stratified_rng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-RNG stratified sampling via ``sampleBy`` — module function
    only (per-stratum RNG is engine-specific)."""
    o = load(spark, sf_dir, "orders")
    return o.sampleBy(
        "o_orderstatus", fractions={"F": 0.05, "O": 0.2, "P": 1.0}, seed=42
    ).select("o_orderkey", "o_orderstatus")


@register(
    "sample_stratified",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000
          < CASE o_orderstatus WHEN 'F' THEN 50 WHEN 'O' THEN 200 ELSE 1000 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum fractions (F 5%,
    O 20%, P 100%) applied as hash thresholds on md5(o_orderkey). One
    narrow pass — the per-key threshold is a CASE expression, so unlike
    ``sampleBy`` there is no RNG and the result is engine-reproducible.
    The RNG variant remains as ``sample_stratified_rng``."""
    from .llm_text import _h64

    o = load(spark, sf_dir, "orders")
    h = F.pmod(_h64(F.col("o_orderkey").cast("string")), F.lit(1000))
    thresh = (
        F.when(F.col("o_orderstatus") == "F", 50)
        .when(F.col("o_orderstatus") == "O", 200)
        .otherwise(1000)
    )
    return o.filter(h < thresh).select("o_orderkey", "o_orderstatus")


def _kmeans_oracle(k: int = 5, iters: int = 5, d: int = 64) -> str:
    # Deterministic init + fixed iteration count -> unroll the Lloyd rounds
    # as chained CTEs (same trick as the pagerank oracle). Assignment ties
    # go to the lowest cluster index on both sides (Spark: array_position of
    # the min; SQL: ROW_NUMBER ordered by dist, cluster). Centroid averages
    # fold in different orders across engines, but assignment margins are
    # many orders above the ~1e-13 ulp noise, and ROUND(6) absorbs it in
    # the reported avg_dist2.
    def dist2(emb: str, cent: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {d}), i -> "
            f"(CAST({emb}[i] AS DOUBLE) - {cent}[i])"
            f" * (CAST({emb}[i] AS DOUBLE) - {cent}[i])))"
        )

    ctes = [
        "emb AS (SELECT vec_id, embedding FROM embeddings)",
        f"""c0 AS (
      SELECT CAST(vec_id + 1 AS INT) AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
      FROM embeddings WHERE vec_id < {k})""",
    ]
    for n in range(1, iters + 1):
        ctes.append(f"""a{n} AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist2('e.embedding', 'c.centroid')},
                                           c.cluster) AS rk
        FROM emb e CROSS JOIN c{n - 1} c) WHERE rk = 1)""")
        if n < iters:
            ctes.append(f"""c{n} AS (
      SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
        SELECT cluster, gs.i AS pos,
               AVG(CAST(a{n}.embedding[gs.i] AS DOUBLE)) AS m
        FROM a{n}, generate_series(1, {d}) gs(i)
        GROUP BY cluster, gs.i) GROUP BY cluster)""")
    return f"""
    WITH {','.join(ctes)}
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG({dist2('a.embedding', 'c.centroid')}), 6) AS avg_dist2
    FROM a{iters} a JOIN c{iters - 1} c USING (cluster)
    GROUP BY cluster
    """


def _kmeans_silhouette_oracle(k: int = 5, iters: int = 5, d: int = 64) -> str:
    # same unrolled Lloyd CTE chain as _kmeans_oracle, different final
    # reduction: simplified (centroid-based) silhouette per cluster
    base = _kmeans_oracle(k, iters, d)
    ctes = base.split("SELECT cluster, CAST(COUNT(*) AS BIGINT)")[0]

    def dist(emb: str, cent: str) -> str:
        return (
            f"sqrt(list_sum(list_transform(generate_series(1, {d}), i -> "
            f"(CAST({emb}[i] AS DOUBLE) - {cent}[i])"
            f" * (CAST({emb}[i] AS DOUBLE) - {cent}[i]))))"
        )

    return f"""{ctes.rstrip()},
    per AS (
      SELECT a.vec_id, a.cluster,
             MIN(CASE WHEN c.cluster = a.cluster
                      THEN {dist('a.embedding', 'c.centroid')} END) AS adist,
             MIN(CASE WHEN c.cluster <> a.cluster
                      THEN {dist('a.embedding', 'c.centroid')} END) AS bdist
      FROM a{iters} a CROSS JOIN c{iters - 1} c
      GROUP BY a.vec_id, a.cluster, a.embedding
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG((bdist - adist) / GREATEST(adist, bdist)), 6)
             AS mean_silhouette
    FROM per GROUP BY cluster
    """


@register("vec_kmeans", oracle=_kmeans_oracle())
def vec_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's) over the embedding column, pure DataFrame ops.

    Deterministic: centroids initialized from vec_id 0..k-1, 5 fixed
    iterations. Per iteration: broadcast the k x 64 centroids (driver-held,
    tiny), assign via JVM-side argmin over squared distance, recompute
    centroids with posexplode + groupBy(cluster, pos). Only k*64 doubles ever
    reach the driver — the assignment pass streams at any corpus size."""
    from .llm_vectors import _lloyd_mean_update

    k, iters = 5, 5
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # cents carries (label, centroid) pairs: labels stay STABLE if a Lloyd
    # round empties a cluster (a positional list would silently relabel all
    # higher clusters and diverge from the oracle's stable-label CTEs).
    cents = [
        (i + 1, [float(x) for x in r.embedding])
        for i, r in enumerate(e.filter(F.col("vec_id") < k).orderBy("vec_id").collect())
    ]
    # iters - 1 mean updates: the oracle's CTE chain (and the unrolled
    # relational loop this replaces) never consumes the last round's
    # centroid update — the reported assignment runs under c_{iters-1}.
    # Each update is one vectorized pass (numpy assignment + per-cluster
    # partial sums; k x 65 doubles per batch cross the shuffle) instead of
    # a posexplode of n x 64 rows (r14; see _lloyd_mean_update).
    for _ in range(iters - 1):
        cents = _lloyd_mean_update(spark, e, cents)
    cent_col = F.array(*[F.array(*[F.lit(v) for v in c]) for _, c in cents])
    label_col = F.array(*[F.lit(lb) for lb, _ in cents])
    dist2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col("embedding"), c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # Single-evaluation argmin: one k-element distance array per row,
    # min over struct(dist, label) — struct ordering breaks distance
    # ties to the lowest label, matching the oracle's ORDER BY dist,
    # cluster. (The previous array_position(transform, array_min(
    # transform)) form built the distance array TWICE per row; codegen
    # CSE does not reliably merge the copies, so plan size and per-row
    # cost scaled 2x in k.)
    assigned = e.select(
        "vec_id",
        "embedding",
        F.array_min(
            F.zip_with(
                F.transform(cent_col, dist2),
                label_col,
                lambda dd, lb: F.struct(dd.alias("d"), lb.alias("lb")),
            )
        )["lb"].alias("cluster"),
    )
    own_cent = F.element_at(
        cent_col, F.array_position(label_col, F.col("cluster")).cast("int")
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(dist2(own_cent)), 6).alias("avg_dist2"),
    )


def _matmul_oracle() -> str:
    # GEMM accumulation order differs from DuckDB's sequential list fold,
    # but both run in f8 where 64-term dot products agree to ~1e-15 —
    # ROUND(6) absorbs that; round_even mirrors np.round's banker's ties.
    from .llm_vectors import _d_cos

    return f"""
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round_even({_d_cos('q.embedding', 'c.embedding')}, 6) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round_even({_d_cos('q.embedding', 'c.embedding')}, 6) DESC,
                        c.vec_id) AS rk
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 8 AND c.vec_id != q.vec_id) t
    WHERE rk <= 5
    """


@register("sim_topk_matmul", oracle=_matmul_oracle())
def sim_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN, block-matmul formulation — the 100 TB scale path for
    large query sets (SURVEY.md §4): broadcast the query matrix, GEMM each
    Arrow batch of corpus vectors against it in numpy, keep per-batch top-k,
    then a global per-query top-k merge. Python cost is per-batch, compute is
    BLAS."""
    import numpy as np
    import pandas as pd

    k = 5
    e = load(spark, sf_dir, "embeddings")
    qrows = e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    q_ids = np.array([r.vec_id for r in qrows])
    q_mat = np.array([r.embedding for r in qrows], dtype="float64")
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(q_mat)

    def topk_batches(it):
        for pdf in it:
            ids = pdf["vec_id"].to_numpy()
            m = np.array(list(pdf["embedding"]), dtype="float64")
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = bq.value @ m.T  # (n_q, batch)
            for qi, qid in enumerate(bq_ids.value):
                s = sims[qi]
                mask = ids != qid
                # the batch cut must use the SAME ordering as the global
                # window (rounded value desc, neighbor id asc): cutting on
                # the unrounded value could keep the ulp-larger of two
                # round-to-equal candidates and drop the one the final
                # (rounded, neighbor_id) rank would have chosen
                rounded = np.round(s[mask], 6)
                idx = np.lexsort((ids[mask], -rounded))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[mask][idx],
                        "cos_sim": rounded[idx],
                    }
                )

    partial = e.select("vec_id", "embedding").mapInPandas(
        topk_batches, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


@register(
    "agg_skew_salted",
    oracle="""
    SELECT l_returnflag, ROUND(SUM(l_extendedprice), 2) AS total, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the hand-rolled skew mitigation for
    hot keys (l_returnflag has only 3 values: maximal skew). Stage 1 groups
    on (key, salt16) so the hot key spreads over 16 reducers; stage 2 merges
    the 3x16 partials. Semantics-preserving, so the oracle is the plain
    GROUP BY. AQE's skew handling covers joins; aggregation salting is the
    code-level pattern (SURVEY.md §4)."""
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", (F.spark_partition_id() % 16))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("c")
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("s"), 2).alias("total"), F.sum("c").alias("n")
    )


@register(
    "agg_extras",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)                       AS all_over_1k,
           bool_or(o_totalprice > 400000)                      AS any_over_400k,
           CAST(bit_and(o_custkey) AS BIGINT)                  AS key_bit_and,
           CAST(bit_or(o_custkey) AS BIGINT)                   AS key_bit_or,
           CAST(bit_xor(o_custkey) AS BIGINT)                  AS key_bit_xor,
           CAST(max_by(o_orderkey, o_totalprice) AS BIGINT)    AS biggest_order,
           CAST(min_by(o_orderkey, o_totalprice) AS BIGINT)    AS smallest_order
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail aggregates: every/any, bitwise aggs, arg-max/min.
    (mode() is excluded from the oracle: its tie-break is engine-specific.)"""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.bit_and("o_custkey").alias("key_bit_and"),
        F.bit_or("o_custkey").alias("key_bit_or"),
        F.bit_xor("o_custkey").alias("key_bit_xor"),
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
    )


@register(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (melt) — the inverse of agg_pivot."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@register(
    "fn_generators",
    oracle="""
    WITH base AS (SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 10)
    SELECT n_nationkey, 'a' AS tag, CAST(n_regionkey AS BIGINT) AS v FROM base
    UNION ALL
    SELECT n_nationkey, 'b', CAST(n_nationkey % 3 AS BIGINT) FROM base
    UNION ALL
    SELECT n_nationkey, NULL, NULL FROM base WHERE n_regionkey = 0
    """,
)
def fn_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row generators: stack() (n-column unpivot literal) + explode_outer
    (null-preserving explode) combined: each nation yields its two tagged
    measures, and region-0 nations additionally yield a null row through the
    outer explode of an empty array."""
    n = load(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    stacked = n.select(
        "n_nationkey",
        F.expr(
            "stack(2, 'a', CAST(n_regionkey AS BIGINT), 'b', CAST(n_nationkey % 3 AS BIGINT))"
        ).alias("tag", "v"),
    )
    empties = (
        n.filter(F.col("n_regionkey") == 0)
        .select(
            "n_nationkey",
            F.explode_outer(F.array().cast("array<string>")).alias("tag"),
            F.lit(None).cast("long").alias("v"),
        )
    )
    return stacked.unionByName(empties)


@register(
    "fn_bitwise",
    oracle="""
    SELECT n_nationkey,
           n_nationkey & 12        AS b_and,
           n_nationkey | 5         AS b_or,
           xor(n_nationkey, 9)     AS b_xor,
           ~n_nationkey            AS b_not,
           n_nationkey << 2        AS b_shl,
           n_nationkey >> 1        AS b_shr
    FROM nation
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        "n_nationkey",
        k.bitwiseAND(F.lit(12)).alias("b_and"),
        k.bitwiseOR(F.lit(5)).alias("b_or"),
        k.bitwiseXOR(F.lit(9)).alias("b_xor"),
        F.bitwise_not(k).alias("b_not"),
        F.shiftleft(k, 2).alias("b_shl"),
        F.shiftright(k, 1).alias("b_shr"),
    )


@register(
    "join_range_binned",
    oracle="""
    SELECT r.range_id, l.l_orderkey, l.l_linenumber, l.l_quantity
    FROM lineitem l
    JOIN (SELECT p_partkey AS range_id,
                 p_size - 2.0 AS lo, p_size + 2.0 AS hi
          FROM part WHERE p_partkey < 50) r
      ON l.l_quantity BETWEEN r.lo AND r.hi
    WHERE l.l_orderkey < 200
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via BINNING — the large x large scale path for interval
    joins (SURVEY.md §2.C join_theta_range note). Each range of width <= 5
    expands to the fixed-width bins (width 5) it overlaps; points map to one
    bin; the join becomes EQUI on bin + a residual BETWEEN filter. Shuffle
    volume is rows x overlap factor instead of the broadcast-NLJ's rows x
    ranges — the standard trick when neither side fits in a broadcast."""
    width = 5.0
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 200)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("bin", F.floor(F.col("l_quantity") / width))
    )
    ranges = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 50)
        .select(
            F.col("p_partkey").alias("range_id"),
            (F.col("p_size") - 2.0).alias("lo"),
            (F.col("p_size") + 2.0).alias("hi"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / width), F.floor(F.col("hi") / width)
                )
            ),
        )
    )
    return (
        li.join(ranges, "bin")
        .filter(F.col("l_quantity").between(F.col("lo"), F.col("hi")))
        .select("range_id", "l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "fn_trig",
    oracle="""
    SELECT n_nationkey,
           ROUND(sin(radians(n_nationkey * 10.0)), 10)  AS s,
           ROUND(cos(radians(n_nationkey * 10.0)), 10)  AS c,
           ROUND(tan(n_nationkey * 0.1), 10)            AS t,
           ROUND(atan2(CAST(n_nationkey AS DOUBLE), 3.0), 10) AS a2,
           ROUND(degrees(atan(n_nationkey * 0.1)), 10)  AS deg,
           ROUND((exp(n_nationkey * 0.1) - exp(-n_nationkey * 0.1)) / 2, 10) AS sh,
           ROUND((exp(n_nationkey * 0.1) + exp(-n_nationkey * 0.1)) / 2, 10) AS ch,
           ROUND((exp(2 * n_nationkey * 0.1) - 1) / (exp(2 * n_nationkey * 0.1) + 1), 10) AS th
    FROM nation
    """,
)
def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/hyperbolic functions (spherical-geometry support for
    the spatial columns: HEALPix/HTM math uses exactly these)."""
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        "n_nationkey",
        F.round(F.sin(F.radians(k * 10.0)), 10).alias("s"),
        F.round(F.cos(F.radians(k * 10.0)), 10).alias("c"),
        F.round(F.tan(k * 0.1), 10).alias("t"),
        F.round(F.atan2(k.cast("double"), F.lit(3.0)), 10).alias("a2"),
        F.round(F.degrees(F.atan(k * 0.1)), 10).alias("deg"),
        F.round(F.sinh(k * 0.1), 10).alias("sh"),
        F.round(F.cosh(k * 0.1), 10).alias("ch"),
        F.round(F.tanh(k * 0.1), 10).alias("th"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / 50000) * 50000 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 4) AS bucket_mean
    FROM orders GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by bucket arithmetic — one partial-aggregated
    shuffle regardless of data size (the bucket count, not the row count,
    bounds the result)."""
    o = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000)
    return (
        o.groupBy(
            bucket.alias("bucket"),
            (bucket * 50000).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("bucket_mean"),
        )
    )


@register(
    "funnel_analysis",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after
    """,
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> click -> purchase): each stage is
    the earliest qualifying event strictly after the previous stage's time.
    Three grouped mins + two broadcast-sized joins — per-user state never
    leaves the executors, so the funnel holds at any event volume."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
               AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day,
                CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS DATE)) AS INTEGER)
             AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, counted
    distinct per day offset. The firsts table is per-user (broadcastable at
    fixture scale; bucketed on user_id at corpus scale)."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    return (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")).cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def _pagerank_oracle() -> str:
    # Fixed iteration count makes the "iterative" fixpoint SQL-expressible:
    # unroll the 5 damped power iterations as chained CTEs. Per-node
    # contribution sums fold in different orders across engines (ulp noise);
    # ROUND(6) on the output absorbs it, and ties order by node_id on both
    # sides, so the top-20 cut is deterministic.
    it = """
    r{b} AS (
      SELECT n.node, 0.15 + 0.85 * COALESCE(s.t, 0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / d.deg) AS t
        FROM edges e
        JOIN r{a} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) s ON s.node = n.node
    )"""
    rounds = ",".join(it.format(a=i, b=i + 1) for i in range(5))
    return f"""
    WITH li AS (
      SELECT DISTINCT l_partkey + 1000000 AS src, l_suppkey AS dst FROM lineitem
    ),
    edges AS (SELECT src, dst FROM li UNION ALL SELECT dst AS src, src AS dst FROM li),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    r0 AS (SELECT node, 1.0 AS rank FROM nodes),
    {rounds}
    SELECT node AS node_id,
           CASE WHEN node >= 1000000 THEN 'part' ELSE 'supplier' END AS node_type,
           ROUND(rank, 6) AS rank
    FROM r5
    ORDER BY ROUND(rank, 6) DESC, node
    LIMIT 20
    """


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 damped power iterations, d=0.85) over the part-supplier
    bipartite graph from lineitem — the iterative-graph-analytics shape
    (influence/centrality over an entity graph mined from a fact table).
    Node ids: suppliers as-is, parts offset by 10^6. Each iteration is one
    join (ranks onto edges) + one groupBy (sum contributions) — the exact
    per-round shuffle profile PageRank has on any cluster; ranks never
    leave the executors, iteration count is fixed (no driver-side
    convergence action), and each round's ranks are localCheckpointed
    (the graph_hits lineage-cut discipline: without the cut the logical
    plan nests one join+agg deeper per round and Catalyst re-analyzes the
    whole chain each iteration — the planning cost, not the data, was the
    measured per-round overhead), so executor storage and plan depth both
    stay O(1). Returns the top-20 nodes by rank. Invariants (rank
    conservation, positivity, determinism) in
    tests/test_rows_only_quality.py."""
    # the distinct (part, supplier) base is the session-shared _ps_pairs
    # memo (r14 session 22); only the symmetrize + degree fold stay
    # per-invocation
    edges = _ps_pairs(spark, sf_dir).select(
        (F.col("p") + 1_000_000).alias("src"), F.col("s").alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # deg is consumed inside every round's broadcast subtree: cut its lineage
    # once so each round starts from a leaf, not from the edges scan.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=True
    )
    # Carry the SOURCE degree on the edge row once (r14): the per-round
    # contribution rank(src)/deg(src) previously required joining ranks
    # onto deg inside every round's broadcast build — 5 O(nodes) joins.
    # With deg a column of the persisted edge list, each round broadcasts
    # the bare rank table and the division rides the edge-side projection
    # (identical doubles per edge, identical grouping — only the join
    # disappears). The broadcast of deg is O(nodes) and happens once.
    edges_w = edges.join(F.broadcast(deg), "src").persist()
    ranks = deg.select("src", F.lit(1.0).alias("rank"))
    # Per round: BROADCAST the O(nodes) rank table onto the persisted
    # weighted edge list (edges never re-shuffle or re-sort — without the
    # hint the checkpointed rank frame has no size stats and Catalyst picks
    # a sort-merge join that re-sorts all edges every round), then one
    # map-side-combining groupBy. Because the edge list holds both
    # directions, every node has in-edges, so the damped sum covers all
    # nodes and no nodes-left-join backfill is needed. Lineage is cut every
    # SECOND round (r10; measured 7.0s -> 3.7s cold at sf0.1): a single-
    # consumer chain only pays plan depth, so half the materialization jobs
    # suffice. At 100 TB the rank side outgrows broadcast: pre-partition
    # edges by src and co-shuffle ranks instead — the per-round shuffle
    # profile stays one small-side exchange + one partial agg either way.
    cuts: list[DataFrame] = []
    for i in range(5):
        ranks = (
            edges_w.join(F.broadcast(ranks), "src")
            .select(
                F.col("dst").alias("src"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("src")
            .agg((F.lit(0.15) + F.lit(0.85) * F.sum("c")).alias("rank"))
        )
        if i % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
            cuts.append(ranks)
    # Materialize the 20-row result eagerly, then release the edge cache —
    # edges.persist() previously outlived every invocation (round-3 storage
    # leak) — and explicitly free the intermediate checkpoint blocks (deg +
    # per-cut ranks), which the cache manager does not track. The
    # checkpointed result is 20 rows; executor storage is flat across
    # repeated invocations (tests/test_rows_only_quality.py).
    result = (
        ranks.select(
            F.col("src").alias("node_id"),
            F.when(F.col("src") >= 1_000_000, F.lit("part")).otherwise(F.lit("supplier")).alias(
                "node_type"
            ),
            F.round("rank", 6).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "node_id")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    edges_w.unpersist()
    for interim in (deg, *cuts):
        release(interim)
    return result


@register("vec_pca_evr")  # rows-only: LAPACK eig on the driver's 64x64 Gram
def vec_pca_evr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embedding column — the dimensionality-reduction step a
    100 TB pipeline runs before ANN indexing / whitening. Distributed part:
    each Arrow batch contributes its 64x64 partial Gram (X^T X, one BLAS
    GEMM per batch via mapInPandas) and per-dimension sums; a groupBy(i, j)
    reduces them — so the shuffle is O(batches * 64^2) regardless of corpus
    size, and only the final 64x64 covariance (plus the mean) ever reaches
    the driver, where the eigendecomposition is O(64^3) scalar work.
    Returns the top-8 components' eigenvalues and explained-variance
    ratios. Checked against single-node numpy PCA in
    tests/test_rows_only_quality.py.

    r14: the Gram/mean reduce is the shared ``cov_gram_parts`` helper —
    ``vec_power_iteration`` consumes the identical covariance, so a session
    running both keys pays the corpus pass once (duplicated-subtree rule,
    guide §1.2). Only the d^2 + d reduced rows are collected here."""
    import numpy as np

    from .llm_vectors import cov_gram_parts

    parts = cov_gram_parts(spark, sf_dir).collect()
    d = 64
    gram = np.zeros((d, d))
    mean_sum = np.zeros(d)
    n = 0
    for r in parts:
        if r.i < 0:
            mean_sum[r.j] = r.v
            n = max(n, r.n)
        else:
            gram[r.i, r.j] = r.v
    mu = mean_sum / n
    cov = gram / n - np.outer(mu, mu)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    rows = [
        (int(k + 1), float(round(evals[k], 8)), float(round(evals[k] / total, 6)))
        for k in range(8)
    ]
    return spark.createDataFrame(rows, "component int, eigenvalue double, evr double")


_JOIN_SALT = 8


@register(
    "join_skew_salted",
    oracle="""
    SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_returnflag
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-salted skew join: the fact side gets a random-ish salt (derived
    deterministically from l_linenumber so the result is reproducible), the
    dimension side is replicated once per salt value via an explode, and the
    join key becomes (key, salt) — a hot orderkey's rows now land on
    _JOIN_SALT different reducers instead of one. Semantics-preserving, so
    the oracle is the plain join. This is the manual fallback for skew AQE
    cannot fix (e.g. a broadcast-ineligible dimension with one hot key);
    replication multiplies the dimension by _JOIN_SALT, which is the price
    of flattening the straggler."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    salted_fact = li.withColumn("salt", F.pmod(F.col("l_linenumber"), F.lit(_JOIN_SALT)))
    replicated_dim = o.select(
        "o_orderkey", F.explode(F.array(*[F.lit(i) for i in range(_JOIN_SALT)])).alias("salt")
    )
    j = salted_fact.join(
        replicated_dim,
        (salted_fact.l_orderkey == replicated_dim.o_orderkey)
        & (salted_fact.salt == replicated_dim.salt),
    )
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Triangle counting on a co-occurrence graph
# ---------------------------------------------------------------------------
def _co_supply_pair_counts(spark, ps):
    """Shared-part count per supplier pair (u < v, double `c`) from a
    distinct (p, s) projection — the weighted co-supply edge list every
    graph_* operator thresholds on.

    The aggregate is ONE-PHASE at machine width, deliberately: the pair
    stream's group cardinality is the same order as its row count (a pair
    recurs in only a handful of parts, scattered across part-partitioned
    join output), so the default partial+final plan hashes every row
    twice at the session's narrow shuffle width for ~2x compression at
    best. An explicit machine-wide repartition on the group key measured
    8.9s vs 17.1s on the ~87M-pair sf1 tier (r14). The same reasoning
    holds on a cluster: high-cardinality group-bys want one wide hash
    table, not two narrow ones — and the pair-stream exchange this buys
    is the partial output's size anyway when compression is ~2x."""
    width = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "8")),
    )
    a, b = ps.alias("a"), ps.alias("b")
    return (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .repartition(width, "u", "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )


def _ps_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized DISTINCT (l_partkey, l_suppkey) pair set from lineitem —
    the base every bipartite part-supplier graph key derives its edge list
    from (pagerank, HITS, LPA/modularity, BFS, degree-powerlaw, and the
    co-supply edge-memo builds of
    triangles/kcore/clustering-coeff/node-similarity). One
    lineitem scan + one distinct exchange per session instead of one per
    key (the cov_gram_parts cross-key duplicated-subtree discipline, guide
    §1.2). Each consumer's own projection (node-id offset, column order)
    is a bijection, so distinct-then-project yields the identical row
    multiset the former inline project-then-distinct did. Persisted (long
    pairs, O(distinct part-supplier pairs)) as a session memo.

    Partitioned BY p at machine width before the distinct (r15, guide
    §2.4 "two operations keyed the same way can share one exchange"):
    HashPartitioning(p) satisfies the (p, s) distinct's clustering
    requirement (equal pairs share p), the cached relation preserves
    that partitioning, and every downstream per-part consumer — the
    co-supply pair self-join's BOTH legs (a.p = b.p) and
    graph_node_similarity's part-degree groupBy — then runs exchange-
    free on the cache. Measured at the sf1 tier (alternating laps, one
    session): ps-build + pair-aggregate 10.2/13.1/19.5 s vs the
    unpartitioned build's 11.5/16.4/20.0 s, and the pair-aggregate
    plan drops both join-leg exchanges. The repartition+distinct is a
    row-multiset identity, so every consumer's results are unchanged."""

    def build():
        width = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions", "8")),
        )
        li = load(spark, sf_dir, "lineitem")
        return (
            li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
            .repartition(width, "p")
            .distinct()
            .persist()
        )

    return memo(spark, sf_dir, "ps_pairs", build)


def _lpa_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized md5-sampled symmetric part-supplier edge list (src, dst;
    parts offset by 10^6) — shared VERBATIM by graph_label_propagation /
    graph_modularity (via `_lpa_edges_labels`) and graph_bfs_distance,
    each of which previously built and persisted its own identical copy
    per invocation. Derived from `_ps_pairs`; a persisted session memo."""

    def build():
        sp = _ps_pairs(spark, sf_dir).select(
            (F.col("p") + 1_000_000).alias("a"), F.col("s").alias("b")
        )
        kept = sp.filter(
            F.conv(
                F.substring(
                    F.md5((F.col("a") * 100_000 + F.col("b")).cast("string")), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % 100
            < _LPA_EDGE_PCT
        )
        return (
            kept.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(kept.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .persist()
        )

    return memo(spark, sf_dir, "lpa_sym_edges", build)


def _co_supply_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized co-supply pair-count aggregate over `_ps_pairs` — the
    weighted (u, v, c) supplier edge list that graph_triangles /
    graph_clustering_coeff (p99 threshold) and graph_kcore (its own
    quantile) all threshold before their joins. The one-phase
    machine-wide aggregate inside `_co_supply_pair_counts` is the
    family's dominant stage (~2-3 s at sf0.1; O(co-supply pairs) at any
    scale), and before r14 session 23 each key's memo build re-ran it.
    A persisted session memo."""
    return memo(
        spark,
        sf_dir,
        "cosupply",
        lambda: _co_supply_pair_counts(spark, _ps_pairs(spark, sf_dir)).persist(),
    )


def _tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized p99-thresholded co-supply edge list (u < v) shared by
    graph_triangles and graph_clustering_coeff. It is consumed by 4 plan
    branches (3 triangle legs + degree) and holds ~1% of supplier pairs.
    The pair aggregate under it (the family's dominant stage) is the
    session-shared `_co_supply_counts` memo: it feeds both the p99
    threshold and the filter it gates, and graph_kcore's own build."""

    def build():
        sh = _co_supply_counts(spark, sf_dir)
        thr = sh.agg(F.percentile("c", F.lit(0.99)).alias("thr"))
        e = (
            sh.crossJoin(F.broadcast(thr))
            .filter(F.col("c") >= F.col("thr"))
            .select("u", "v")
            .persist()
        )
        e.count()  # materialize e (and the shared sh cache) eagerly
        return e

    return memo(spark, sf_dir, "tri_edges", build)


@register(
    "graph_triangles",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    sh AS MATERIALIZED (
      SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS DOUBLE) AS c
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    ),
    thr AS (SELECT quantile_cont(c, 0.99) AS thr FROM sh),
    -- MATERIALIZED: e is referenced 5x (triangle join + degree union);
    -- DuckDB otherwise re-inlines the co-supply pair aggregate into each
    -- reference (measured 26.3s -> a few s at sf0.1)
    e AS MATERIALIZED (SELECT u, v FROM sh CROSS JOIN thr WHERE c >= thr),
    tri AS MATERIALIZED (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    nt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT x AS node FROM tri UNION ALL
            SELECT y FROM tri UNION ALL
            SELECT z FROM tri)
      GROUP BY 1
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1
    )
    SELECT d.node, d.degree, COALESCE(nt.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN nt USING (node)
    ORDER BY n_triangles DESC, degree DESC, node
    LIMIT 20
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the supplier co-supply graph: project the
    part-supplier bipartite relation to supplier pairs, keep the strongest
    1% of co-supply edges (shared-part count >= its p99 — the co-occurrence
    projection of a bipartite fact table is otherwise near-complete), and
    enumerate triangles with the canonical ordered edge-edge-edge join
    (every edge stored once as u < v, so each triangle is produced exactly
    once as x < y < z). Returns the top-20 nodes by triangle participation
    with their degree — the local-clustering hot spots.

    Scale: ordered triangle enumeration is the textbook distributed
    algorithm (two shuffle joins on node keys); its cost is sum over nodes
    of deg^2, so the percentile edge threshold doubles as the hub cap that
    keeps the wedge explosion bounded — the same guard the dedup self-joins
    use (_SH_DF_CAP). The p99 threshold is computed as a 1-row aggregate
    and broadcast (no driver collect); the co-occurrence weights come from
    _co_supply_pair_counts' one-phase machine-wide aggregate (see its
    docstring for why partial aggregation loses on this pair stream)."""
    e = _tri_edges(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")))
        .select(F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z"))
    )
    nt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.join(nt, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias("n_triangles"),
        )
        .orderBy(F.col("n_triangles").desc(), F.col("degree").desc(), "node")
        .limit(20)
    )


@register(
    "graph_node_similarity",
    oracle="""
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM sp GROUP BY p),
    kept AS (SELECT sp.s, sp.p FROM sp JOIN deg USING (p) WHERE deg.d <= 31),
    sz AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS n FROM kept GROUP BY s),
    co AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS DOUBLE) AS c
      FROM kept a JOIN kept b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT co.s1, co.s2, CAST(c AS BIGINT) AS shared_parts,
             ROUND(c / (x.n + y.n - c), 6) AS jaccard
      FROM co JOIN sz x ON x.s = co.s1 JOIN sz y ON y.s = co.s2
    )
    SELECT s1, s2, shared_parts, jaccard, rk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, s1, s2) AS rk
      FROM scored) t
    WHERE rk <= 50
    """,
)
def graph_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph node similarity: Jaccard overlap of the part sets two
    suppliers ship, top-50 most-similar supplier pairs — the
    who-is-substitutable-for-whom query (and the node-similarity step
    link-prediction and entity-resolution pipelines run on any bipartite
    graph).

    Same scale posture as the dedup family: candidate pairs come from an
    INVERTED INDEX on the shared part (never an all-pairs supplier join),
    and a part-degree cap (d <= 31, the fixture's p90) bounds the d²
    pair blow-up a hub part would cause — the cap is part of the operator
    contract and mirrored in the oracle, so Jaccard is computed over the
    capped sets consistently. Ranks compare on ROUND(·, 6) with (s1, s2)
    tie-breaks, so boundary pairs order identically in both engines.

    The capped edge list `kept` feeds three plan branches (set sizes +
    both pair-join legs), each of which would otherwise re-scan lineitem
    and re-run the distinct + degree aggregation; it is a persisted session
    memo — at 100 TB that is one fact-table scan instead of ~6."""

    def build():
        sp = _ps_pairs(spark, sf_dir).select("s", "p")
        deg = sp.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
        return sp.join(deg.filter(F.col("d") <= 31), "p").select("s", "p").persist()

    kept = memo(spark, sf_dir, "nodesim_kept", build)
    sz = kept.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("n"))
    co = (
        _co_supply_pair_counts(spark, kept.select("p", "s"))
        .withColumnRenamed("u", "s1")
        .withColumnRenamed("v", "s2")
    )
    scored = (
        co.join(F.broadcast(sz.withColumnRenamed("s", "s1").withColumnRenamed("n", "nx")), "s1")
        .join(F.broadcast(sz.withColumnRenamed("s", "s2").withColumnRenamed("n", "ny")), "s2")
        .select(
            "s1",
            "s2",
            F.col("c").cast("long").alias("shared_parts"),
            F.round(F.col("c") / (F.col("nx") + F.col("ny") - F.col("c")), 6).alias(
                "jaccard"
            ),
        )
    )
    w = Window.orderBy(F.col("jaccard").desc(), "s1", "s2")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 50)
        .select("s1", "s2", "shared_parts", "jaccard", "rk")
    )


# ---------------------------------------------------------------------------
# k-core decomposition (round 6)
# ---------------------------------------------------------------------------
_KCORE_K, _KCORE_ROUNDS, _KCORE_EDGE_Q = 3, 4, 0.9


def _kcore_round_sql(r: int) -> str:
    k = _KCORE_K
    # AS MATERIALIZED: without it DuckDB inlines each CTE at every
    # reference site, re-evaluating the base pair-join 3^rounds times
    # (measured: >370s at sf0.01 inlined, <1s materialized)
    return f"""
    n{r + 1} AS MATERIALIZED (
      SELECT node FROM (SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})
      GROUP BY node HAVING COUNT(*) >= {k}
    ),
    e{r + 1} AS MATERIALIZED (
      SELECT u, v FROM e{r}
      WHERE u IN (SELECT node FROM n{r + 1}) AND v IN (SELECT node FROM n{r + 1})
    )"""


@register(
    "graph_kcore",
    oracle=f"""
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    sh AS MATERIALIZED (
      SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS DOUBLE) AS c
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    ),
    thr AS (SELECT quantile_cont(c, {_KCORE_EDGE_Q}) AS thr FROM sh),
    e0 AS MATERIALIZED (SELECT u, v FROM sh CROSS JOIN thr WHERE c >= thr),
    {','.join(_kcore_round_sql(r) for r in range(_KCORE_ROUNDS))}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS node FROM e{_KCORE_ROUNDS} UNION ALL
          SELECT v FROM e{_KCORE_ROUNDS})
    GROUP BY node
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k={_KCORE_K}) of the supplier co-supply graph:
    iteratively peel nodes with degree < k until the maximal subgraph in
    which every node keeps >= k neighbors remains — the standard dense-
    community extractor (Seidman 1983) and the degeneracy preprocessing
    step for clique/community mining.

    Determinism contract shared with vec_kmeans/graph_pagerank: BOTH
    engines run exactly {_KCORE_ROUNDS} statically-unrolled peel rounds
    (once the peel converges, further rounds are no-ops, so equality
    holds whether convergence lands early or exactly at the bound);
    tests/test_stats_extra.py asserts the fixture converges WITHIN the
    bound, i.e. the output is the true k-core, not a truncation. The
    p{int(_KCORE_EDGE_Q * 100)} co-supply edge threshold reuses the
    graph_triangles hub-cap pattern (broadcast 1-row threshold, never
    all-pairs). Each round is one degree aggregate + two broadcast semi
    joins over a strictly-shrinking edge list; the base edge list is a
    checkpointed session memo — at 100 TB each round's survivor edges
    would be persisted too (the peel is a contraction, so memory shrinks
    monotonically)."""

    def build():
        # the ~C(|suppliers per part|,2) pair enumeration + aggregate —
        # the operator's dominant cost, 3.8s of the 7.2s cold total at
        # sf0.1 (r11) — is the session-shared _co_supply_counts memo:
        # cached once for this build, the percentile-threshold job, AND
        # graph_triangles' separately-thresholded build. Post-agg sh is
        # O(supplier-pairs) (~500k rows), far smaller than the raw pair
        # stream, so holding it persisted for the session is cheap.
        sh = _co_supply_counts(spark, sf_dir)
        thr = sh.agg(F.percentile("c", F.lit(_KCORE_EDGE_Q)).alias("thr"))
        return (
            sh.crossJoin(F.broadcast(thr))
            .filter(F.col("c") >= F.col("thr"))
            .select("u", "v")
            .localCheckpoint(eager=True)
        )

    e = memo(spark, sf_dir, "kcore_edges", build)
    # Early-exit on convergence (r14 optimization round): the peel is a
    # deterministic contraction, so when a round removes no edge every
    # later round is the identity and the remaining passes are pure
    # machinery — measured at sf0.1 the fixture converges at ROUND 0 (all
    # 4 rounds return 58,854 edges) yet the 3 no-op rounds still cost
    # ~1.7s of degree-agg + checkpoint jobs. The edge count is read off
    # the freshly checkpointed survivor list (a cheap count over
    # materialized blocks), so the check costs one tiny job per round and
    # saves two jobs per skipped round at ANY scale. Output equality with
    # the oracle's fixed {_KCORE_ROUNDS}-round unroll is preserved exactly
    # BECAUSE converged rounds are no-ops (the docstring's determinism
    # contract, now exploited in both directions).
    n_edges = e.count()
    for i in range(_KCORE_ROUNDS):
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # checkpoint the (tiny, O(|suppliers|)) survivor-node set once per
        # round (r11): it feeds TWO broadcast builds below, each of which is
        # its own job and would re-execute the degree aggregate over the
        # edge list — the same double-execution class as the edge build.
        kept = (
            deg.filter(F.col("d") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=True)
        )
        # truncate lineage per peel round: e feeds BOTH the degree count and
        # the semi-joins, so an uncut plan doubles per round (2^rounds copies
        # of the edge subtree re-optimized and re-executed). The survivor
        # edge list only shrinks, so the per-round materialization is cheap —
        # the same cut the docstring's 100 TB note prescribes.
        prev = e
        e = (
            e.join(F.broadcast(kept.withColumnRenamed("node", "u")), "u", "left_semi")
            .join(F.broadcast(kept.withColumnRenamed("node", "v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        release(kept)
        if i > 0:
            # free the SUPERSEDED round's checkpoint blocks (round 0's input
            # is the memoized edge cache — never freed; the final round's
            # blocks feed the lazily-returned aggregate, also kept)
            release(prev)
        n_new = e.count()
        if n_new == n_edges:
            break
        n_edges = n_new
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


# ---------------------------------------------------------------------------
# Weighted reservoir sampling, Efraimidis-Spirakis A-ES (round 8)
# ---------------------------------------------------------------------------
_WS_K = 100


@register(
    "sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             ln((CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                                          1, 15)) AS BIGINT) % 1000000 + 0.5)
                / 1000000.0) / o_totalprice AS es_key
      FROM orders
    ),
    ranked AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY es_key DESC, o_orderkey) AS rk
      FROM keyed
    )
    SELECT CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
    FROM ranked WHERE rk <= {_WS_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by the Efraimidis-Spirakis
    A-ES scheme (2006): each row draws a deterministic uniform u from its
    md5-hashed key and scores u^(1/w); the top-k scores ARE a weighted
    sample without replacement. Ranking by ln(u)/w (monotone in u^(1/w),
    numerically safer) — the distributed-systems standard for "sample 100
    orders proportional to spend" because it needs no global weight total
    and composes under union: the top-k of per-partition top-k's is the
    global top-k, exactly Spark's TakeOrdered physical plan.

    Determinism: u = (md5-prefix % 1e6 + 0.5) / 1e6 is the repo's seeded
    inverse-CDF convention (`privacy_dp_counts`); u and w are bitwise
    identical across engines, exposing only ln's last ulp to the rank
    comparison — tests/test_properties.py pins a separation margin at the
    selection boundary.

    Scale: no shuffle until the O(k) TakeOrdered merge; the scan stays
    whole-stage codegen (md5 + ln are JVM intrinsics)."""
    o = load(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 1000000
        + 0.5
    ) / 1000000.0
    keyed = o.select(
        "o_orderkey", "o_totalprice", (F.log(u) / F.col("o_totalprice")).alias("es_key")
    )
    return (
        keyed.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("es_key"), "o_orderkey")),
        )
        .filter(F.col("rk") <= _WS_K)
        .select(F.col("rk").cast("int").alias("rk"), "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph (round 8)
# ---------------------------------------------------------------------------


@register(
    "graph_assortativity",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           ROUND(AVG(du.deg), 4) AS avg_edge_degree,
           ROUND(corr(du.deg, dv.deg), 6) AS assortativity
    FROM und e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees over the directed edge
    list (each undirected edge counted both ways — the standard estimator).
    Positive = hubs buy with hubs (social-network shape), negative = hubs
    connect to leaves (technological/dependency shape) — the one-number
    topology screen run before choosing partition/caching strategies for
    graph workloads (assortative graphs shard cleanly by community;
    disassortative hubs need the `join_skew_salted` treatment).

    Plan: the edge list is a per-order self-join (co-blocked pairs only —
    the `join_self_pairs` shape); degrees are one partial-agg groupBy;
    the correlation joins the O(nodes) degree table back onto edges
    twice. At 100 TB the degree table broadcasts (nodes << edges) and the
    edge scan stays embarrassingly parallel."""
    li = load(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # the edge list feeds ~9 plan branches (und twice, deg via und, both
    # degree join legs, both counts) — uncut, the per-order self-join +
    # DISTINCT re-ran for each (r14). One eager checkpoint makes them all
    # leaf reads; blocks freed once the 1-row result materializes.
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    result = (
        und.join(du, "u")
        .join(dv, "v")
        .agg(
            F.round(F.avg("deg_u"), 4).alias("avg_edge_degree"),
            F.round(F.corr("deg_u", "deg_v"), 6).alias("assortativity"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select("n_nodes", "n_edges", "avg_edge_degree", "assortativity")
        .localCheckpoint(eager=True)
    )
    release(edges)
    return result


# ---------------------------------------------------------------------------
# Label-propagation community detection (round 8, continuation)
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3  # statically unrolled in BOTH engines (vec_kmeans convention)
_LPA_TOPK = 20
# The fixture part-supplier graph is NEAR-COMPLETE bipartite (every supplier
# carries most parts), on which any propagation scheme collapses to one
# community (measured: 1 giant + 4 singletons). A deterministic md5 edge
# sample (10%) sparsifies it to avg degree ~4 where community structure is
# non-trivial (measured: 10 communities at sf0.001, 96 at sf0.01). On a real
# entity graph the sample stage is dropped. The a*100000+b edge key is
# collision-free while supplier keys < 100k (fixture max: 1k at sf1).
_LPA_EDGE_PCT = 10


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round as SQL text: every node adopts the most
    frequent label among its neighbors plus itself (the self-vote damps
    the bipartite 2-coloring oscillation), ties to the SMALLEST label."""
    return f"""
    {out} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM (
          SELECT v.node, v.label, CAST(COUNT(*) AS BIGINT) AS c
          FROM (
            SELECT e.dst AS node, l.label
            FROM f2s_lpa_edges e JOIN {prev} l ON l.node = e.src
            UNION ALL
            SELECT node, label FROM {prev}
          ) v GROUP BY 1, 2
        ) t
      ) r WHERE rn = 1
    )"""


def _lpa_edges_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA machinery: the md5-sampled symmetric edge list and the
    converged (fixed-round) label table — consumed by
    `graph_label_propagation` (top communities) and `graph_modularity`
    (partition quality). One definition so the two can never drift. The
    edge list itself is the session-shared `_lpa_sym_edges` memo (r14
    session 22) — also served to `graph_bfs_distance`."""
    edges = _lpa_sym_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    prev = None
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .unionByName(labels.select("node", "label"))
        )
        # eager localCheckpoint per round (r11): labels is consumed TWICE
        # per round (vote join + union), and the former lazy persist was
        # unpersisted before any action materialized it — the same
        # 2^rounds lineage doubling as graph_bfs_distance.
        #
        # Top-1 selection (r14): the oracle's per-node ROW_NUMBER window
        # (ORDER BY c DESC, label ASC, rn=1) is computed as the
        # partial-aggregable min(struct(-c, label)) — lexicographic struct
        # order picks the same (highest-count, smallest-label) vote because
        # counts are exact integers and label is unique within a (node,
        # label) group. Replaces the per-node sort with a map-side-combining
        # hash aggregate: at scale the second exchange carries one partial
        # min per (node, map partition) instead of every distinct label.
        labels = (
            votes.groupBy("node", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("m"))
            .select("node", F.col("m.label").alias("label"))
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            release(prev)
        prev = labels
    return edges, labels


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH sp AS (
      SELECT DISTINCT l_partkey + 1000000 AS a, l_suppkey AS b FROM lineitem
    ),
    kept AS (
      SELECT a, b FROM sp
      WHERE CAST(concat('0x', substr(md5(CAST(a * 100000 + b AS VARCHAR)),
                                     1, 15)) AS BIGINT) % 100 < {_LPA_EDGE_PCT}
    ),
    f2s_lpa_edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM kept
      UNION ALL
      SELECT b AS src, a AS dst FROM kept
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM f2s_lpa_edges),
    {','.join(_lpa_round_sql(f'l{i}', f'l{i + 1}') for i in range(_LPA_ROUNDS))}
    SELECT community, size, rk FROM (
      SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS size,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, label ASC) AS rk
      FROM l{_LPA_ROUNDS} GROUP BY label
    ) t WHERE rk <= {_LPA_TOPK}
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007) over
    the part-supplier bipartite graph (`graph_pagerank`'s node ids:
    suppliers as-is, parts offset by 10^6; deterministically md5-sampled
    to {_LPA_EDGE_PCT}% of edges — see `_LPA_EDGE_PCT`: the fixture
    graph is near-complete, on which every propagation collapses to one
    blob): seed every node with its own id, then for {_LPA_ROUNDS} synchronous rounds each node adopts the
    most frequent label among its neighbors PLUS itself — the self-vote
    damps the 2-coloring oscillation synchronous LPA exhibits on
    bipartite graphs — with ties broken to the smallest label, making
    every round a pure function of the previous one. Returns the top
    {_LPA_TOPK} communities by size. Near-linear-time community
    detection: the standard first look at mined entity graphs, the
    modularity-free sibling of `dedup_components`' connected components
    (which this generalizes from reachability to density).

    Plan: each round is one edge->label equi-join + one (node, label)
    partial-agg count + one per-node WindowGroupLimit top-1 — the
    identical per-round exchange budget to `graph_pagerank`, label
    state never leaves the executors, and the fixed unroll keeps BOTH
    engines on the same statically-planned dataflow (vec_kmeans /
    graph_kcore convention: after convergence extra rounds are no-ops).
    Votes carry exact integer counts; no floats anywhere."""
    edges, labels = _lpa_edges_labels(spark, sf_dir)
    wk = Window.orderBy(F.col("size").desc(), F.col("community").asc())
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _LPA_TOPK)
    )


# ---------------------------------------------------------------------------
# Multi-source BFS distance histogram (round 8, continuation)
# ---------------------------------------------------------------------------
_BFS_ROUNDS = 4  # statically unrolled hop bound (both engines)
_BFS_SEEDS = 3  # the k smallest supplier node ids in the sampled graph


def _bfs_round_sql(prev: str, out: str) -> str:
    """One min-plus relaxation round as SQL text: dist(v) becomes the min
    of its current value and (neighbor's dist + 1) — Bellman-Ford with
    unit weights, which after r rounds holds exact BFS distances <= r."""
    return f"""
    {out} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM f2s_bfs_edges e JOIN {prev} d ON d.node = e.src
        UNION ALL
        SELECT node, dist FROM {prev}
      ) v GROUP BY node
    )"""


@register(
    "graph_bfs_distance",
    oracle=f"""
    WITH sp AS (
      SELECT DISTINCT l_partkey + 1000000 AS a, l_suppkey AS b FROM lineitem
    ),
    kept AS (
      SELECT a, b FROM sp
      WHERE CAST(concat('0x', substr(md5(CAST(a * 100000 + b AS VARCHAR)),
                                     1, 15)) AS BIGINT) % 100 < {_LPA_EDGE_PCT}
    ),
    f2s_bfs_edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM kept
      UNION ALL
      SELECT b AS src, a AS dst FROM kept
    ),
    nodes AS (SELECT DISTINCT src AS node FROM f2s_bfs_edges),
    d0 AS (
      SELECT node, 0 AS dist FROM nodes
      WHERE node < 1000000 ORDER BY node LIMIT {_BFS_SEEDS}
    ),
    {','.join(_bfs_round_sql(f'd{i}', f'd{i + 1}') for i in range(_BFS_ROUNDS))}
    SELECT CAST(COALESCE(d.dist, -1) AS BIGINT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM nodes n LEFT JOIN d{_BFS_ROUNDS} d USING (node)
    GROUP BY 1
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the sampled part-supplier graph
    (`graph_label_propagation`'s md5-sparsified edges): seed the
    {_BFS_SEEDS} smallest supplier node ids with distance 0, run
    {_BFS_ROUNDS} statically-unrolled min-plus relaxation rounds
    (Bellman-Ford with unit weights — after r rounds every distance
    <= r is exact), and report the hop-distance histogram with -1 for
    nodes unreachable within the bound. The reachability/latency probe
    every entity-graph pipeline runs (how many hops from trusted seeds?
    — the propagation radius behind trust-rank and influence caps), and
    the distance-layer complement of `dedup_components` (reachability
    only) and `graph_label_propagation` (density).

    Plan: seeds come from a TakeOrdered (sort+limit over the supplier
    node set — no global window); each round is one edge->frontier
    equi-join + one MIN partial agg, the pagerank per-round exchange
    budget, and distance state (O(reached nodes), monotonically
    refined) never leaves the executors. Pure integer math — no float
    anywhere, hash-exact by construction. The edge list is the
    session-shared `_lpa_sym_edges` memo (r14 session 22) — the same
    persisted rows LPA/modularity iterate over, built once per
    session instead of once per key."""
    edges = _lpa_sym_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = (
        nodes.filter(F.col("node") < 1_000_000)
        .orderBy("node")
        .limit(_BFS_SEEDS)
        .select("node", F.lit(0).alias("dist"))
    )
    prev = None
    for i in range(_BFS_ROUNDS):
        # eager localCheckpoint per relaxation round (r11): dist is consumed
        # TWICE per round (frontier join + union), and the former lazy
        # persist was unpersisted before any action ever materialized it —
        # so the logical plan doubled per round (2^rounds copies of the
        # seed/edge subtree re-optimized and re-executed). Same cut as the
        # kcore peel; the distance table is O(reached nodes).
        dist = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .unionByName(dist.select("node", "dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            release(prev)
        prev = dist
    return (
        nodes.join(dist, "node", "left")
        .groupBy(F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (round 9)
# ---------------------------------------------------------------------------
_HITS_ROUNDS = 3


def _hits_oracle() -> str:
    # Unrolled mutual-recursion rounds (the graph_pagerank convention):
    # authorities from hubs, hubs from the fresh authorities, each rescaled
    # to mean 1 so ROUND(6) keeps real precision at any graph size.
    # Fold-order ulp noise is absorbed by ROUND(6); ties order by node id.
    it = """
    a{b} AS MATERIALIZED (
      SELECT e.p, SUM(h.score) * (SELECT CAST(COUNT(*) AS DOUBLE) FROM parts)
               / (SELECT SUM(h2.score * d.n_p) FROM h{a} h2
                  JOIN sdeg d ON d.s = h2.s) AS score
      FROM edges e JOIN h{a} h ON h.s = e.s
      GROUP BY e.p
    ),
    h{b} AS MATERIALIZED (
      SELECT e.s, SUM(a.score) * (SELECT CAST(COUNT(*) AS DOUBLE) FROM sups)
               / (SELECT SUM(a2.score * d.n_s) FROM a{b} a2
                  JOIN pdeg d ON d.p = a2.p) AS score
      FROM edges e JOIN a{b} a ON a.p = e.p
      GROUP BY e.s
    )"""
    rounds = ",".join(it.format(a=i, b=i + 1) for i in range(_HITS_ROUNDS))
    return f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    sups AS (SELECT DISTINCT s FROM edges),
    parts AS (SELECT DISTINCT p FROM edges),
    sdeg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS n_p FROM edges GROUP BY s),
    pdeg AS (SELECT p, CAST(COUNT(*) AS DOUBLE) AS n_s FROM edges GROUP BY p),
    h0 AS (SELECT s, 1.0 AS score FROM sups),
    {rounds}
    SELECT * FROM (
      SELECT 'hub' AS node_type, s AS node_id, ROUND(score, 6) AS score
      FROM h{_HITS_ROUNDS} ORDER BY ROUND(score, 6) DESC, s LIMIT 10
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'authority' AS node_type, p AS node_id, ROUND(score, 6) AS score
      FROM a{_HITS_ROUNDS} ORDER BY ROUND(score, 6) DESC, p LIMIT 10
    )
    """


@register("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg's HITS (1999) over the supplier->part bipartite graph:
    {_HITS_ROUNDS} unrolled mutual-reinforcement rounds — a part's
    authority is the sum of its suppliers' hub scores, a supplier's hub
    score the sum of its parts' authorities — returning the top-10 hubs
    and top-10 authorities. The directed-graph complement to
    `graph_pagerank` (PageRank ranks by random-walk mass; HITS separates
    "good directories" from "good endpoints", the distinction that matters
    on bipartite entity graphs mined from fact tables).

    Each round rescales both score vectors to mean 1 (an L1 normalization
    that needs no sqrt) so the magnitudes stay O(1) at any graph size and
    ROUND(6) keeps real precision. Each normalizer is a 1-row scalar
    aggregate over the raw score table the half-round just materialized
    (bounded driver state: one double), inlined into the rescale as a
    literal. Fold-order ulp noise absorbs into ROUND(6), ties order by
    node id (the `graph_pagerank` determinism convention).

    Scale: per round, one join of scores onto the edge list + one
    partial-aggregating groupBy per side — the canonical distributed
    power-iteration shuffle profile; executor state is two O(nodes) score
    tables, driver state zero. The edge list is the session-shared
    `_ps_pairs` memo."""
    # read the (s, p) projection straight off the session-shared _ps_pairs
    # memo (r14 session 22) — the rounds' joins scan the persisted base;
    # no second per-key persist of the same pairs
    edges = _ps_pairs(spark, sf_dir).select(F.col("s"), F.col("p"))
    # Node counts are loop-invariant scalars: collect them once (bounded,
    # 1 row) and inline as literals. The r11 sdeg/pdeg degree tables are
    # gone entirely (r14): the mean-1 normalizer sum_s h_s * outdeg(s)
    # equals the plain column sum of the FRESH raw scores
    # (sum_p raw_a(p) = sum_p sum_{s->p} h_s — the same number the
    # oracle's degree-weighted subquery computes, modulo fold order that
    # ROUND(6) already absorbs), so each half-round reads its normalizer
    # from the score table it just materialized instead of joining a
    # degree table onto the previous scores — two O(edges) groupBys and
    # 2 x _HITS_ROUNDS O(nodes) joins removed.
    sup_nodes = edges.select("s").distinct().localCheckpoint(eager=True)
    n_sup = float(sup_nodes.count())
    n_par = float(edges.select("p").distinct().count())
    h = sup_nodes.select("s", F.lit(1.0).alias("score"))
    a = None
    cuts: list[DataFrame] = []
    for _ in range(_HITS_ROUNDS):
        # broadcast the O(nodes) score table onto the edge list: the score
        # frames derive from checkpoints (no size stats), so Catalyst
        # would SMJ — re-sorting the edge list every half-round (the
        # pagerank r10 finding). Each half-round materializes ONE
        # checkpoint (the raw sums — consumed by both the normalizer agg
        # and the next half-round's rescaled broadcast); the rescale rides
        # the next consumer as a lazy projection.
        raw_a = (
            edges.join(F.broadcast(h), "s")
            .groupBy("p")
            .agg(F.sum("score").alias("raw"))
            .localCheckpoint(eager=True)
        )
        cuts.append(raw_a)
        tot_a = raw_a.agg(F.sum("raw")).first()[0]
        a = raw_a.select(
            "p", (F.col("raw") * F.lit(n_par) / F.lit(tot_a)).alias("score")
        )
        raw_h = (
            edges.join(F.broadcast(a), "p")
            .groupBy("s")
            .agg(F.sum("score").alias("raw"))
            .localCheckpoint(eager=True)
        )
        cuts.append(raw_h)
        tot_h = raw_h.agg(F.sum("raw")).first()[0]
        h = raw_h.select(
            "s", (F.col("raw") * F.lit(n_sup) / F.lit(tot_h)).alias("score")
        )
        # free superseded raw tables (keep the two feeding h/a)
        while len(cuts) > 2:
            release(cuts.pop(0))
    hubs = (
        h.select(
            F.lit("hub").alias("node_type"),
            F.col("s").alias("node_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "node_id")
        .limit(10)
    )
    auths = (
        a.select(
            F.lit("authority").alias("node_type"),
            F.col("p").alias("node_id"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "node_id")
        .limit(10)
    )
    result = hubs.unionByName(auths).localCheckpoint(eager=True)
    for interim in (sup_nodes, *cuts):
        release(interim)
    return result


# ---------------------------------------------------------------------------
# Clustering coefficient / transitivity (round 9)
# ---------------------------------------------------------------------------


@register(
    "graph_clustering_coeff",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    sh AS MATERIALIZED (
      SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS DOUBLE) AS c
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    ),
    thr AS (SELECT quantile_cont(c, 0.99) AS thr FROM sh),
    e AS MATERIALIZED (SELECT u, v FROM sh CROSS JOIN thr WHERE c >= thr),
    tri AS MATERIALIZED (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    nt AS (
      SELECT node, CAST(COUNT(*) AS DOUBLE) AS n_tri
      FROM (SELECT x AS node FROM tri UNION ALL
            SELECT y FROM tri UNION ALL
            SELECT z FROM tri)
      GROUP BY 1
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS DOUBLE) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1
    ),
    pern AS (
      SELECT d.node, d.degree, COALESCE(nt.n_tri, 0) AS n_tri,
             CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(nt.n_tri, 0) / (d.degree * (d.degree - 1))
                  ELSE 0.0 END AS cc
      FROM deg d LEFT JOIN nt USING (node)
    ),
    gstats AS (
      SELECT COALESCE(SUM(n_tri) / NULLIF(SUM(degree * (degree - 1) / 2), 0),
                      0.0) AS transitivity
      FROM pern
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(degree AS BIGINT) AS degree,
           CAST(n_tri AS BIGINT) AS n_triangles,
           ROUND(cc, 6) AS local_cc,
           ROUND(g.transitivity, 6) AS transitivity
    FROM pern CROSS JOIN gstats g
    ORDER BY ROUND(cc, 6) DESC, degree DESC, node
    LIMIT 20
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2*triangles / deg*(deg-1),
    "how interconnected is each node's neighbourhood" — plus the graph's
    global transitivity (3*triangles / wedges, carried as a constant
    column so the scalar is hash-pinned too), over the same
    p99-thresholded supplier co-supply graph as `graph_triangles`
    (Watts-Strogatz 1998's small-world statistic; the feature upstream of
    community detection and fraud-ring screens).

    Every quantity is rational arithmetic on exact integer counts (a node
    on the u<v edge list participates in a triangle exactly once per
    enumeration), so both engines compute identical doubles; ROUND(6) is
    display-only and the top-20 cut breaks ties by (degree, node).

    Scale: shares the `graph_triangles` plan (and its memoized persisted
    edge list) — two shuffle joins bounded by the p99 hub cap; the wedge
    denominator needs only the degree table. The global ratio is a 1-row
    aggregate broadcast onto 20 rows."""
    e = _tri_edges(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")))
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
    )
    nt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("n_tri"))
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("degree"))
    )
    pern = (
        deg.join(nt, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0.0)).alias("n_tri"),
        )
        .withColumn(
            "cc",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("n_tri") / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
        )
    )
    glob = pern.agg(
        F.coalesce(
            F.sum("n_tri")
            / F.nullif(
                F.sum(F.col("degree") * (F.col("degree") - 1) / 2), F.lit(0.0)
            ),
            F.lit(0.0),
        ).alias("transitivity")
    )
    cc = F.round(F.col("cc"), 6)
    return (
        pern.crossJoin(F.broadcast(glob))
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_tri").cast("long").alias("n_triangles"),
            cc.alias("local_cc"),
            F.round("transitivity", 6).alias("transitivity"),
        )
        .orderBy(F.col("local_cc").desc(), F.col("degree").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Funnel step timing (round 9)
# ---------------------------------------------------------------------------


@register(
    "events_funnel_timing",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, s.t_signup, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s.t_signup
      GROUP BY e.user_id, s.t_signup
    ),
    p AS (
      SELECT e.user_id, c.t_click, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      GROUP BY e.user_id, c.t_click
    ),
    durs AS (
      SELECT 'signup_to_click' AS step,
             CAST(FLOOR(epoch(t_click)) - FLOOR(epoch(t_signup)) AS BIGINT)
               AS dur_s
      FROM c
      UNION ALL
      SELECT 'click_to_purchase' AS step,
             CAST(FLOOR(epoch(t_purchase)) - FLOOR(epoch(t_click)) AS BIGINT)
               AS dur_s
      FROM p
    )
    SELECT step,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(quantile_cont(dur_s, 0.25) / 3600.0, 4) AS p25_hours,
           ROUND(quantile_cont(dur_s, 0.50) / 3600.0, 4) AS median_hours,
           ROUND(quantile_cont(dur_s, 0.75) / 3600.0, 4) AS p75_hours,
           ROUND(AVG(CAST(dur_s AS DOUBLE)) / 3600.0, 4) AS mean_hours
    FROM durs GROUP BY step
    """,
)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between funnel stages: for the same ordered
    signup -> click -> purchase funnel as `funnel_analysis`, the
    distribution of WAITING TIMES at each transition (p25 / median / p75
    / mean hours) — the "where do users stall" view that pure conversion
    counts hide, and the input to follow-up-nudge timing decisions.

    Durations are integer second differences of floored epochs (the
    `events_velocity_flags` convention — sub-second parts can't skew a
    boundary), so the exact percentiles interpolate identical integers
    in both engines.

    Scale: the funnel reduces events to O(users) first-times per stage
    (partial-agg min per user), the timing adds only per-stage quantile
    aggregates over those users. The per-stage frames reuse the
    previous stage's output — one chain, no re-scan per stage."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def dur(df, a, b, name):
        sec = (
            F.floor(F.col(b).cast("double")) - F.floor(F.col(a).cast("double"))
        ).cast("long")
        return df.select(F.lit(name).alias("step"), sec.alias("dur_s"))

    durs = dur(c, "t_signup", "t_click", "signup_to_click").unionByName(
        dur(p, "t_click", "t_purchase", "click_to_purchase")
    )
    return durs.groupBy("step").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.percentile("dur_s", F.lit(0.25)) / 3600.0, 4).alias("p25_hours"),
        F.round(F.percentile("dur_s", F.lit(0.50)) / 3600.0, 4).alias("median_hours"),
        F.round(F.percentile("dur_s", F.lit(0.75)) / 3600.0, 4).alias("p75_hours"),
        F.round(F.avg(F.col("dur_s").cast("double")) / 3600.0, 4).alias("mean_hours"),
    )


# ---------------------------------------------------------------------------
# Degree distribution power-law fit (round 9)
# ---------------------------------------------------------------------------
_PL_DMIN = 5  # Hill-estimator tail threshold


@register(
    "graph_degree_powerlaw",
    oracle=f"""
    WITH deg AS (
      SELECT l_suppkey AS node, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS k
      FROM lineitem GROUP BY 1
    ),
    hist AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY 1
    ),
    ols AS (
      SELECT COUNT(*) AS np,
             (SUM(ln(k) * ln(cnt)) - SUM(ln(k)) * SUM(ln(cnt)) / COUNT(*))
             / (SUM(ln(k) * ln(k)) - SUM(ln(k)) * SUM(ln(k)) / COUNT(*))
               AS slope
      FROM hist
    ),
    hill AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
             1.0 + COUNT(*) / SUM(ln(k / ({_PL_DMIN} - 0.5))) AS alpha
      FROM deg WHERE k >= {_PL_DMIN}
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT MAX(k) FROM deg) AS BIGINT) AS max_degree,
           CAST((SELECT np FROM ols) AS BIGINT) AS n_hist_points,
           ROUND((SELECT slope FROM ols), 6) AS loglog_slope,
           (SELECT n_tail FROM hill) AS n_tail,
           ROUND((SELECT alpha FROM hill), 6) AS alpha_hill
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the supplier-part degree distribution heavy-tailed? Two standard
    estimates in one row: the log-log OLS slope over the degree histogram
    (the classic—and biased—eyeball fit) and the Hill/Clauset MLE
    alpha = 1 + n/Σ ln(k/(k_min−0.5)) over the k ≥ {_PL_DMIN} tail (the
    estimator the power-law literature actually trusts). The graph-shape
    screen run before choosing skew strategies: a heavy tail here is the
    quantitative case for the salting/cap machinery used by
    `join_skew_salted` and the dedup hot-bucket caps.

    Scale: one distinct-pair groupBy (the volume stage), then O(distinct
    degrees) histogram math; both fits are single-row reduces. ln on
    identical integer-derived doubles agrees across engines; ROUND(6).
    The distinct-pair volume stage is the session-shared `_ps_pairs` memo
    (r14 session 22): COUNT(*) over the already-distinct pair set is the
    same exact integer COUNT(DISTINCT l_partkey) computes from raw
    lineitem, minus the expand+dedup pass."""
    deg = _ps_pairs(spark, sf_dir).groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    hist = deg.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    lk, lc = F.log(F.col("k").cast("double")), F.log(F.col("cnt").cast("double"))
    ols = hist.agg(
        F.count(F.lit(1)).alias("np"),
        (
            (F.sum(lk * lc) - F.sum(lk) * F.sum(lc) / F.count(F.lit(1)))
            / (F.sum(lk * lk) - F.sum(lk) * F.sum(lk) / F.count(F.lit(1)))
        ).alias("slope"),
    )
    hill = deg.filter(F.col("k") >= _PL_DMIN).agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        (
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("k").cast("double") / (_PL_DMIN - 0.5)))
        ).alias("alpha"),
    )
    top = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("k").cast("long").alias("max_degree"),
    )
    return (
        top.crossJoin(F.broadcast(ols))
        .crossJoin(F.broadcast(hill))
        .select(
            "n_nodes",
            "max_degree",
            F.col("np").cast("long").alias("n_hist_points"),
            F.round("slope", 6).alias("loglog_slope"),
            "n_tail",
            F.round("alpha", 6).alias("alpha_hill"),
        )
    )


@register("vec_kmeans_silhouette", oracle=_kmeans_silhouette_oracle())
def vec_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per k-means cluster — the
    standard cluster-quality score (Rousseeuw 1987; the centroid variant
    is what scikit-learn calls "simplified silhouette" and what every
    distributed ML library computes, because the exact form needs all
    pairwise distances): for each point, a = distance to its OWN final
    centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b). Run over the SAME deterministic Lloyd
    fixpoint as `vec_kmeans` (identical init, identical 5 rounds,
    identical tie-breaks — the two operators must agree on assignments
    or the score is meaningless), reporting n and mean s per cluster.

    Scale: the Lloyd loop is `vec_kmeans`'s bounded-driver-state pattern
    (k x 64 doubles per round); the silhouette pass itself is ONE extra
    map over the corpus against the broadcast centroid array — a and b
    fall out of a single per-row distance array, no joins, no shuffles
    beyond the final per-cluster rollup."""
    from .llm_vectors import _lloyd_mean_update

    k, iters = 5, 5
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = [
        (i + 1, [float(x) for x in r.embedding])
        for i, r in enumerate(
            e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
        )
    ]
    # the same iters-1 vectorized mean updates as vec_kmeans (the two
    # operators must agree on assignments; see _lloyd_mean_update), then
    # ONE Catalyst assignment pass under the final centroids
    for _ in range(iters - 1):
        cents = _lloyd_mean_update(spark, e, cents)
    cent_col = F.array(*[F.array(*[F.lit(v) for v in c]) for _, c in cents])
    label_col = F.array(*[F.lit(lb) for lb, _ in cents])
    dist2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col("embedding"),
            c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    assigned = e.select(
        "vec_id",
        "embedding",
        F.array_min(
            F.zip_with(
                F.transform(cent_col, dist2),
                label_col,
                lambda dd, lb: F.struct(dd.alias("d"), lb.alias("lb")),
            )
        )["lb"].alias("cluster"),
    )
    # one per-row pass against the FINAL round's centroids: pairs of
    # (euclidean distance, label), then a = own-cluster distance and
    # b = nearest other-cluster distance from the same array
    cent_col = F.array(*[F.array(*[F.lit(v) for v in c]) for _, c in cents])
    label_col = F.array(*[F.lit(lb) for lb, _ in cents])
    dist = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    pairs = F.zip_with(
        F.transform(cent_col, dist),
        label_col,
        lambda dd, lb: F.struct(dd.alias("d"), lb.alias("lb")),
    )
    scored = assigned.select(
        "cluster",
        F.element_at(
            F.filter(pairs, lambda p: p["lb"] == F.col("cluster")), 1
        )["d"].alias("adist"),
        F.array_min(F.filter(pairs, lambda p: p["lb"] != F.col("cluster")))[
            "d"
        ].alias("bdist"),
    )
    return scored.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.avg(
                (F.col("bdist") - F.col("adist"))
                / F.greatest(F.col("adist"), F.col("bdist"))
            ),
            6,
        ).alias("mean_silhouette"),
    )


# ---------------------------------------------------------------------------
# Modularity of the label-propagation partition (round 11)
# ---------------------------------------------------------------------------


@register(
    "graph_modularity",
    oracle=f"""
    WITH sp AS (
      SELECT DISTINCT l_partkey + 1000000 AS a, l_suppkey AS b FROM lineitem
    ),
    kept AS (
      SELECT a, b FROM sp
      WHERE CAST(concat('0x', substr(md5(CAST(a * 100000 + b AS VARCHAR)),
                                     1, 15)) AS BIGINT) % 100 < {_LPA_EDGE_PCT}
    ),
    f2s_lpa_edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM kept
      UNION ALL
      SELECT b AS src, a AS dst FROM kept
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM f2s_lpa_edges),
    {','.join(_lpa_round_sql(f'l{i}', f'l{i + 1}') for i in range(_LPA_ROUNDS))},
    m2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m2 FROM f2s_lpa_edges),
    dc AS (
      SELECT l.label, CAST(COUNT(*) AS DOUBLE) AS d
      FROM f2s_lpa_edges e JOIN l{_LPA_ROUNDS} l ON l.node = e.src
      GROUP BY l.label
    ),
    ecc AS (
      SELECT ls.label, CAST(COUNT(*) AS DOUBLE) AS e_in
      FROM f2s_lpa_edges e
      JOIN l{_LPA_ROUNDS} ls ON ls.node = e.src
      JOIN l{_LPA_ROUNDS} ld ON ld.node = e.dst
      WHERE ls.label = ld.label
      GROUP BY ls.label
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(MAX(m2.m2) / 2 AS BIGINT) AS m_edges,
           ROUND(SUM(COALESCE(ecc.e_in, 0) / m2.m2
                     - (dc.d / m2.m2) * (dc.d / m2.m2)), 6) AS modularity,
           ROUND(SUM(COALESCE(ecc.e_in, 0)) / MAX(m2.m2), 6)
             AS internal_edge_frac
    FROM dc LEFT JOIN ecc USING (label) CROSS JOIN m2
    GROUP BY m2.m2
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the `graph_label_propagation`
    partition: Q = sum_c [ e_cc/2m - (d_c/2m)^2 ] over the same sampled
    supplier-part graph and the same fixed-round LPA labels — the
    partition-quality score that tells you whether the communities LPA
    found are denser than a degree-preserving random graph (Q ~ 0 means
    "no community structure", the honest answer on this near-random
    bipartite fixture). The same evaluation-as-an-operator pattern as
    `vec_kmeans_silhouette` (cluster quality for k-means) and
    `sim_ann_recall_eval` (recall for the ANN index): detection and its
    quality metric ship together, sharing one machinery
    (`_lpa_edges_labels`) so they cannot drift.

    Plan: after the shared LPA rounds, modularity needs exactly two
    label-keyed partial aggregates — the degree mass d_c (one edge->label
    join) and the within-community edge count e_cc (edge joined to BOTH
    endpoint labels, broadcast: the label table is O(nodes)) — folded to
    a single row. Directed-representation bookkeeping: the symmetric
    edge list carries 2m rows, so e_cc and d_c are both doubled
    consistently and Q needs no correction factor."""
    edges, labels = _lpa_edges_labels(spark, sf_dir)
    m2 = edges.agg(F.count(F.lit(1)).cast("double").alias("m2"))
    lab = F.broadcast(labels)
    dc = (
        edges.join(lab.withColumnRenamed("node", "src"), "src")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    ls = lab.withColumnRenamed("node", "src").withColumnRenamed("label", "lsrc")
    ld = lab.withColumnRenamed("node", "dst").withColumnRenamed("label", "ldst")
    ecc = (
        edges.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("lsrc") == F.col("ldst"))
        .groupBy(F.col("lsrc").alias("label"))
        .agg(F.count(F.lit(1)).cast("double").alias("e_in"))
    )
    j = (
        dc.join(F.broadcast(ecc), "label", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "label",
            "m2",
            F.coalesce(F.col("e_in"), F.lit(0.0)).alias("e_in"),
            "d",
        )
    )
    return j.groupBy("m2").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        (F.max("m2") / 2).cast("long").alias("m_edges"),
        F.round(
            F.sum(
                F.col("e_in") / F.col("m2")
                - (F.col("d") / F.col("m2")) * (F.col("d") / F.col("m2"))
            ),
            6,
        ).alias("modularity"),
        F.round(F.sum("e_in") / F.max("m2"), 6).alias("internal_edge_frac"),
    ).drop("m2").select("n_communities", "m_edges", "modularity", "internal_edge_frac")
