"""Training-data pipeline operators (round 2): deterministic splits, sequence
packing, vocabulary stats, benchmark-contamination checks, anomaly flagging,
data-quality profiling, robust statistics, and int8 embedding quantization.

These extend SURVEY.md §2.N/§2.V — the "what a 100 TB training-data pipeline
needs beyond the reference's own surface" mandate (BASELINE.json north star).
Every query is a single declarative DataFrame plan (no driver-side loops, no
Python UDFs); cross-engine reproducibility uses the md5→int64 primitive shared
with llm_text (`_h64`), so each operator except the sketch has an exact DuckDB
oracle.

Scale notes are per-operator; the common theme: one shuffle per groupBy on a
key whose cardinality grows with the data (doc_id, token, shingle), broadcast
for O(groups)-sized side tables (per-type stats, the CMS sketch), and window
partitions chosen so no partition degenerates to a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import memo
from ..tables import load
from .llm_text import _SHINGLES_SQL, _h64, _shingles


# ---------------------------------------------------------------------------
# Deterministic train/valid/test split
# ---------------------------------------------------------------------------
@register(
    "split_train_test",
    oracle="""
    WITH t AS (
      SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS h,
             len(string_split(text, ' ')) AS ntok,
             n_chars
      FROM documents
    )
    SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid' ELSE 'test' END
             AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM t GROUP BY 1
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/valid/test split keyed on md5(doc_id) — the standard
    reshuffle-proof split: a document's assignment is a pure function of its
    id, so adding data or re-partitioning never migrates a doc across splits
    (no train/test leakage between pipeline runs). Scale: the hash is a
    narrow map; the summary is one partial-agg shuffle over 3 groups."""
    d = load(spark, sf_dir, "documents")
    h = F.pmod(_h64(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("valid")).otherwise(F.lit("test"))
    )
    return (
        d.select(
            split.alias("split"),
            F.size(F.split("text", " ")).alias("ntok"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source document cap (domain balancing)
# ---------------------------------------------------------------------------
_SRC_CAP = 15  # max docs kept per source


@register(
    "cap_docs_per_source",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM r WHERE rk <= {_SRC_CAP}
    """,
)
def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap each source (domain) at {_SRC_CAP} documents so
    no single domain dominates the training mix — the web-corpus
    "cap per registered domain" step. Selection order is md5(doc_id), i.e. a
    deterministic uniform-random draw that is reshuffle-proof and
    engine-reproducible (the same property as split_train_test), with doc_id
    breaking hash ties. Scale: one shuffle on source + WindowGroupLimit —
    Spark pushes the rank<=k filter into the sort, so per-source state is k
    rows, never the domain's full document list; a skewed mega-domain costs
    one partition's sort of its ids, not memory."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SRC_CAP)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# Sequence packing into fixed context windows
# ---------------------------------------------------------------------------
_CTX = 2048  # tokens per context window


@register(
    "seq_pack_bins",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS ntok FROM documents
    ),
    c AS (
      SELECT lang, doc_id, ntok,
             SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT lang,
           CAST(FLOOR((cum - ntok) / {_CTX}.0) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY lang, bin
    """,
)
def seq_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate each language's token stream in
    doc_id order and cut it into {_CTX}-token context windows; a document
    belongs to the bin where it STARTS (documents may straddle bins — the
    packer splits them, as training pipelines do). Emits per-bin document
    counts and token totals. Scale: the running sum partitions by lang, so
    parallelism = languages × AQE coalescing — for a near-monolingual corpus
    pre-shard by hash(doc_id) range first (same pattern, more partitions);
    the window itself is one shuffle + one sort, no iteration."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("lang", "doc_id", F.size(F.split("text", " ")).alias("ntok"))
    c = t.withColumn("cum", F.sum("ntok").over(w))
    return (
        c.select(
            "lang",
            "doc_id",
            "ntok",
            F.floor((F.col("cum") - F.col("ntok")) / F.lit(float(_CTX))).alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Global vocabulary top-k
# ---------------------------------------------------------------------------
@register(
    "text_vocab_topk",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 50
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency (the vocab-building /
    stopword-discovery primitive). Scale: explode → partial-agg groupBy
    (map-side combine collapses each partition to its distinct tokens before
    the shuffle) → TakeOrderedAndProject for the top-k; nothing global except
    the final 50-row take."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check
# ---------------------------------------------------------------------------
_CONTAM_MIN_SHARED = 3


@register(
    "contamination_ngram",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    b AS (SELECT doc_id FROM documents WHERE source = 'src0'),
    bsh AS (SELECT DISTINCT shingle FROM sh SEMI JOIN b USING (doc_id)),
    csh AS (SELECT * FROM sh ANTI JOIN b USING (doc_id)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
    shared AS (
      SELECT doc_id, COUNT(*) AS n_shared
      FROM csh SEMI JOIN bsh USING (shingle)
      GROUP BY doc_id
    )
    SELECT s.doc_id, CAST(s.n_shared AS BIGINT) AS n_shared,
           ROUND(CAST(s.n_shared AS DOUBLE) / z.n_sh, 6) AS shared_frac
    FROM shared s JOIN sizes z USING (doc_id)
    WHERE s.n_shared >= {_CONTAM_MIN_SHARED}
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: treating source='src0' documents as the
    held-out benchmark, flag corpus documents sharing >= {_CONTAM_MIN_SHARED}
    distinct word-3-shingles with ANY benchmark doc (the n-gram-overlap
    decontamination test run before LLM training). Reuses the session shingle
    cache, so the md5 pass is shared with the dedup family. Scale: the
    benchmark shingle set is usually <<corpus — Spark picks a broadcast hash
    join under AQE when it fits, else a shuffle on the 8-byte shingle key;
    per-doc overlap is a partial-agg groupBy on doc_id."""
    d = load(spark, sf_dir, "documents")
    sh = memo(spark, sf_dir, "shingles", lambda: _shingles(d).persist())
    bench = d.filter(F.col("source") == "src0").select("doc_id")
    bench_sh = sh.join(bench, "doc_id", "semi").select("shingle").distinct()
    corp_sh = sh.join(bench, "doc_id", "anti")
    sizes = corp_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        corp_sh.join(bench_sh, "shingle", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _CONTAM_MIN_SHARED)
    )
    return shared.join(sizes, "doc_id").select(
        "doc_id",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_sh"), 6).alias("shared_frac"),
    )


# ---------------------------------------------------------------------------
# Per-group z-score anomaly flagging
# ---------------------------------------------------------------------------
@register(
    "anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.mu) / s.sd, 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE ABS((e.value - s.mu) / s.sd) > 2.5
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier events: |z| > 2.5 against the per-event-type mean/stddev.
    Implemented as groupBy-stats + broadcast join back to the facts (NOT a
    window partitioned by event_type: with ~5 types a window would funnel the
    whole table through 5 tasks, while the broadcast join keeps the base scan
    fully parallel and the stats table is O(types))."""
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# Data-quality profile
# ---------------------------------------------------------------------------
_DQ_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


def _dq_oracle() -> str:
    parts = []
    for c in _DQ_COLS:
        if c == "o_totalprice":
            mn, mx = f"CAST(ROUND(MIN({c}), 2) AS VARCHAR)", f"CAST(ROUND(MAX({c}), 2) AS VARCHAR)"
        else:
            mn, mx = f"CAST(MIN({c}) AS VARCHAR)", f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
            f" COUNT(*) - COUNT({c}) AS n_null,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" {mn} AS min_s, {mx} AS max_s FROM orders"
        )
    return " UNION ALL ".join(parts)


@register("dq_profile", oracle=_dq_oracle())
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data-quality profile of `orders` (row count, null count,
    exact distinct count, min/max rendered as strings) — the pre-ingest
    validation report. Scale: ONE pass over the table; Spark rewrites the
    multi-distinct aggregate with Expand (one shuffle, grouping-id keyed)
    instead of N scans; swap COUNT(DISTINCT) for approx_count_distinct when a
    2% error beats the expand cost at 100 TB."""
    o = load(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _DQ_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"))
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        if c == "o_totalprice":
            aggs.append(F.round(F.min(c), 2).cast("string").alias(f"{c}__min"))
            aggs.append(F.round(F.max(c), 2).cast("string").alias(f"{c}__max"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
    row = load(spark, sf_dir, "orders").agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c in _DQ_COLS
        ]
    )
    return row.select(F.explode(per_col).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Robust statistics: deterministic mode + median
# ---------------------------------------------------------------------------
@register(
    "agg_mode_median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT l_returnflag, l_linestatus AS mode_status,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, l_linestatus) AS rn
      FROM c
    ),
    med AS (
      SELECT l_returnflag, ROUND(MEDIAN(l_quantity), 4) AS median_qty
      FROM lineitem GROUP BY 1
    )
    SELECT m.l_returnflag, m.mode_status, med.median_qty
    FROM m JOIN med USING (l_returnflag) WHERE rn = 1
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag modal line status and median quantity. Mode is computed
    deterministically (count-groupBy + row_number with a value tiebreak)
    rather than via the built-in `mode()`, whose tie choice is
    engine-defined — determinism is what makes the result oracle-checkable.
    Scale: the count table is O(flag x status) = tiny, so the window and the
    join are on a table of a few rows; the two base aggregations are
    partial-agg shuffles that AQE can share a scan for."""
    li = load(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), "l_linestatus")
    m = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_linestatus").alias("mode_status"))
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("median_qty")
    )
    return m.join(med, "l_returnflag").select("l_returnflag", "mode_status", "median_qty")


# ---------------------------------------------------------------------------
# Correlation / covariance / regression aggregates
# ---------------------------------------------------------------------------
@register(
    "corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6)        AS corr_qp,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4)  AS covs_qp,
           ROUND(COVAR_POP(l_quantity, l_extendedprice), 4)   AS covp_qp,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4)  AS slope_pq,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS icept_pq
    FROM lineitem GROUP BY l_returnflag
    """,
)
def corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per return flag: correlation, sample/population
    covariance, and the least-squares fit of price on quantity — all single
    partial-aggregable JVM aggregates (one shuffle over 3 groups; results
    rounded so the two engines' summation orders cannot diverge a hash)."""
    li = load(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("corr_qp"),
        F.round(F.covar_samp(q, p), 4).alias("covs_qp"),
        F.round(F.covar_pop(q, p), 4).alias("covp_qp"),
        F.round(F.regr_slope(p, q), 4).alias("slope_pq"),
        F.round(F.regr_intercept(p, q), 4).alias("icept_pq"),
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization of embeddings
# ---------------------------------------------------------------------------
@register(
    "vec_quantize_int8",
    oracle="""
    WITH x AS (
      SELECT vec_id, label,
             CAST(list_min(embedding) AS DOUBLE) AS mn,
             CAST(list_max(embedding) AS DOUBLE) AS mx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, v,
             mn + FLOOR((v - mn) / ((mx - mn) / 255.0) + 0.5) * ((mx - mn) / 255.0)
               AS deq
      FROM x
    ),
    per AS (
      SELECT vec_id, label, SQRT(AVG((v - deq) * (v - deq))) AS rmse
      FROM q GROUP BY vec_id, label
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(rmse), 6) AS avg_rmse, ROUND(MAX(rmse), 6) AS max_rmse
    FROM per GROUP BY label
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (min/max affine, 256 levels — the
    standard embedding-compression step before ANN serving) with per-label
    reconstruction-RMSE summary. Rounding uses floor(x+0.5) explicitly so
    both engines round identically, and all arithmetic is cast to double
    BEFORE the subtraction (float32 intermediates would diverge between
    engines). Scale: entirely per-row array expressions (no shuffle until the
    O(labels) summary); the quantized form shrinks the column 4x, which is
    the point at 100 TB."""
    e = load(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    e2 = e.withColumn("mn", mn).withColumn("mx", mx).withColumn(
        "scale", (F.col("mx") - F.col("mn")) / F.lit(255.0)
    )
    deq = F.transform(
        F.col("embedding"),
        lambda x: F.floor((x.cast("double") - F.col("mn")) / F.col("scale") + F.lit(0.5))
        * F.col("scale")
        + F.col("mn"),
    )
    se = F.aggregate(
        F.zip_with(
            F.col("embedding"), deq, lambda a, b: F.pow(a.cast("double") - b, F.lit(2.0))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rmse = F.sqrt(se / F.size("embedding"))
    per = e2.select("vec_id", "label", rmse.alias("rmse"))
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("rmse"), 6).alias("avg_rmse"),
        F.round(F.max("rmse"), 6).alias("max_rmse"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (md5-salted hash -> full DuckDB oracle)
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 1024


def _cms_cell(token_col, i: int):
    """Salted cross-engine cell index: md5-int64 of 'token#i' mod width.
    _h64 is non-negative (60-bit), so plain % matches DuckDB's %."""
    return _h64(F.concat_ws("#", token_col, F.lit(str(i)))) % _CMS_W


_CMS_CELL_SQL = (
    f"CAST(concat('0x', substr(md5(token || '#' || i.row), 1, 15)) AS BIGINT)"
    f" % {_CMS_W}"
)


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    rows_ AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS row),
    cells AS (
      SELECT i.row AS row, {_CMS_CELL_SQL} AS col FROM toks, rows_ i
    ),
    sketch AS (SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY row, col),
    dtoks AS (SELECT DISTINCT token FROM toks),
    probes AS (
      SELECT token, i.row AS row, {_CMS_CELL_SQL} AS col FROM dtoks, rows_ i
    ),
    est AS (
      SELECT token, MIN(cnt) AS est_cnt
      FROM probes JOIN sketch USING (row, col) GROUP BY token
    )
    SELECT token, est_cnt FROM est ORDER BY est_cnt DESC, token LIMIT 20
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch built AS a DataFrame: each token
    occurrence increments d={_CMS_D} cells (row i, col h64(token#i) mod
    w={_CMS_W}); the sketch is the groupBy-count of those cells (d*w rows
    total, partial-aggregated map-side). Estimates join each distinct token
    back to its d cells against the BROADCAST sketch and take the min —
    the classic one-sided (over-)estimate. Returns the top-20 tokens by
    estimate. The cell hash is the md5-derived _h64 (llm_text.py), so the
    sketch is engine-reproducible and the DuckDB oracle checks the full
    cell/probe pipeline by value. Scale: the sketch stays {_CMS_D}x{_CMS_W}
    rows no matter the corpus size — that fixed size is the entire point vs
    the exact `text_vocab_topk`; the only data-sized shuffles are the two
    partial-agg groupBys. Also verified against exact counts in
    tests/test_rows_only_quality.py (estimate >= exact, error <= eps*N)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    cells = toks.select(
        F.posexplode(
            F.array(*[_cms_cell(F.col("token"), i) for i in range(_CMS_D)])
        ).alias("row", "col")
    )
    sketch = cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))
    distinct_toks = toks.select("token").distinct()
    probes = distinct_toks.select(
        "token",
        F.posexplode(
            F.array(*[_cms_cell(F.col("token"), i) for i in range(_CMS_D)])
        ).alias("row", "col"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est_cnt"))
        .orderBy(F.col("est_cnt").desc(), "token")
        .limit(20)
    )
    return est


# ---------------------------------------------------------------------------
# CDC MERGE (upsert) as a full-outer join
# ---------------------------------------------------------------------------
@register(
    "merge_upsert",
    oracle="""
    WITH src AS (
      -- FLOOR-to-cents: a 2dp price x 1.1 lands on exact half-cents,
      -- where DuckDB's ROUND (shortest-decimal) and Spark's (IEEE)
      -- disagree row by row (surfaced at sf0.1 in the 'updated' sum);
      -- floor of identical doubles is engine-exact
      SELECT o_orderkey AS k, FLOOR(o_totalprice * 110) / 100 AS price
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + 100000000 AS k, ROUND(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    m AS (
      SELECT COALESCE(s.k, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.k IS NULL THEN 'kept'
                  WHEN t.o_orderkey IS NULL THEN 'inserted'
                  ELSE 'updated' END AS merge_action,
             ROUND(COALESCE(s.price, t.o_totalprice), 2) AS o_totalprice
      FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.k
    )
    SELECT merge_action, COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM m GROUP BY merge_action
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the upsert every CDC / incremental-ingest
    pipeline needs) expressed as a full-outer join: matched target rows take
    the source's values, unmatched source rows are inserts, unmatched target
    rows are kept. The CDC batch is derived deterministically from the
    fixture (10% updates, ~1% inserts at shifted keys) so the oracle can
    reproduce it. Scale: one shuffle on the merge key — against a BUCKETED
    target table the join is exchange-free on the target side and only the
    (much smaller) CDC batch shuffles; summarized to per-action counts so
    the registered output is stable."""
    o = load(spark, sf_dir, "orders")
    upd = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            F.col("o_orderkey").alias("k"),
            # floor-to-cents: see the oracle comment (half-cent ROUND ties)
            (F.floor(F.col("o_totalprice") * 110) / 100).alias("price"),
        )
    )
    ins = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select((F.col("o_orderkey") + 100000000).alias("k"), F.round("o_totalprice", 2).alias("price"))
    )
    src = upd.unionByName(ins)
    t = o.select("o_orderkey", "o_totalprice")
    m = t.join(src, t.o_orderkey == src.k, "full_outer").select(
        F.coalesce(src.k, t.o_orderkey).alias("o_orderkey"),
        F.when(src.k.isNull(), F.lit("kept"))
        .when(t.o_orderkey.isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
        F.round(F.coalesce(src.price, t.o_totalprice), 2).alias("o_totalprice"),
    )
    return m.groupBy("merge_action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# SCD2 intervals (gaps-and-islands)
# ---------------------------------------------------------------------------
@register(
    "scd2_intervals",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rn2
      FROM orders
    )
    SELECT o_custkey, o_orderpriority,
           MIN(o_orderdate) AS valid_from, MAX(o_orderdate) AS valid_to,
           COUNT(*) AS n_orders
    FROM r GROUP BY o_custkey, o_orderpriority, rn - rn2
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse each
    customer's consecutive same-priority order runs into validity intervals
    (the classic gaps-and-islands `rn - rn2` trick — one island per run).
    This is how a dimension table's change history is reconstructed from an
    event log. Scale: both row_numbers share the o_custkey shuffle (the
    second window only sub-partitions it), then one partial-agg groupBy;
    nothing global."""
    o = load(spark, sf_dir, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    r = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        (F.row_number().over(w1) - F.row_number().over(w2)).alias("island"),
    )
    return (
        r.groupBy("o_custkey", "o_orderpriority", "island")
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .drop("island")
    )


@register(
    "dq_expectations",
    oracle="""
    SELECT 'orderkey_unique' AS rule,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'custkey_not_null', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'totalprice_positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orderdate_in_range',
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                       OR o_orderdate >= TIMESTAMP '2010-01-01' THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'custkey_fk_customer', CAST(COUNT(*) AS BIGINT)
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based expectation checks (the validate step next to
    `dq_profile`'s profile step): uniqueness, not-null, range, and
    referential-integrity rules each report a violation count. The scalar
    rules share ONE aggregation pass (conditional sums in a single agg);
    the FK rule is a broadcast anti-join. At 100 TB the same plan holds —
    one scan for all scalar rules, one semi/anti join per FK rule."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    one = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orderkey_unique"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("custkey_not_null"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "totalprice_positive"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("orderdate_in_range"),
    )
    rules = ["orderkey_unique", "custkey_not_null", "totalprice_positive", "orderdate_in_range"]
    scalar = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("rule"), F.col(r).cast("long").alias("n_violations"))
                    for r in rules
                ]
            )
        ).alias("p")
    ).select("p.*")
    fk = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("custkey_fk_customer").alias("rule"), "n_violations")
    )
    return scalar.unionByName(fk)


@register(
    "agg_string_concat",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys
    FROM orders
    WHERE o_custkey < 50
    GROUP BY o_custkey
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg semantics): each
    customer's order keys concatenated in a DETERMINISTIC order — the
    determinism (sort inside the aggregate) is what makes a concatenated
    string comparable across engines and runs; an unordered listagg is
    nondeterministic under parallel aggregation by construction. Built as
    collect_list -> sort_array -> concat_ws (partial-aggregable)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.col("o_orderkey").cast("string")))
        ).alias("order_keys"),
    )


# ---------------------------------------------------------------------------
# Deterministic domain-mixture rebalancing
# ---------------------------------------------------------------------------
@register(
    "domain_mix_sample",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(n) AS mn FROM c),
    k AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept
      FROM documents d JOIN c USING (source) CROSS JOIN m
      WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000
            < (CAST(m.mn AS DOUBLE) / c.n) * 1000000
      GROUP BY d.source
    )
    SELECT c.source, c.n AS n_before,
           COALESCE(k.kept, 0) AS n_kept,
           ROUND(CAST(m.mn AS DOUBLE) / c.n, 6) AS target_rate
    FROM c CROSS JOIN m LEFT JOIN k USING (source)
    """,
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture rebalancing: downsample every source to
    the size of the smallest one (uniform mixture) by keeping the docs whose
    md5(doc_id) hash-bucket falls under the per-source target rate — the
    hash-threshold idiom shared with split_train_test, so the selected
    subset is a pure function of doc ids (reshuffle-proof, reproducible
    across engines and runs, and monotone: lowering a source's rate only
    removes docs, never swaps them).

    Scale: one count aggregate over sources, its MIN broadcast back as a
    1-row cross join (no driver collect), then a narrow hash filter on the
    scan — the selection itself never shuffles. This is the standard
    deterministic alternative to rand()-based mixture sampling in a
    training-data pipeline (target weights here: equal per source; any
    weight table broadcasts the same way)."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = c.agg(F.min("n").alias("mn"))
    rate = F.col("mn").cast("double") / F.col("n")
    kept = (
        d.join(c, "source")
        .crossJoin(F.broadcast(m))
        .filter(
            F.pmod(_h64(F.col("doc_id").cast("string")), F.lit(1_000_000))
            < rate * 1_000_000
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("kept"))
    )
    return (
        c.crossJoin(F.broadcast(m))
        .join(kept, "source", "left")
        .select(
            "source",
            F.col("n").alias("n_before"),
            F.coalesce(F.col("kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.round(rate, 6).alias("target_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition / diversity quality signals (Gopher-style)
# ---------------------------------------------------------------------------
@register(
    "text_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    s AS (
      SELECT doc_id,
             len(l) AS n_words,
             CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
             CAST(list_max(list_transform(list_distinct(l),
                    x -> len(list_filter(l, y -> y = x)))) AS DOUBLE) / len(l)
               AS top_word_frac,
             CAST(list_max(list_transform(
                    list_distinct(list_transform(range(1, len(l)),
                                                 i -> l[i] || ' ' || l[i + 1])),
                    x -> len(list_filter(
                           list_transform(range(1, len(l)),
                                          i -> l[i] || ' ' || l[i + 1]),
                           y -> y = x)))) AS DOUBLE)
               / (len(l) - 1) AS top_bigram_frac
      FROM w WHERE len(l) >= 2
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           ROUND(uniq_ratio, 6) AS uniq_ratio,
           ROUND(top_word_frac, 6) AS top_word_frac,
           ROUND(top_bigram_frac, 6) AS top_bigram_frac,
           (uniq_ratio < 0.4 OR top_word_frac > 0.15 OR top_bigram_frac > 0.12)
             AS is_repetitive
    FROM s
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition / diversity signals in the Gopher-rules
    family: unique-word ratio, most-frequent-word fraction, and
    most-frequent-bigram fraction, plus the composite is_repetitive flag
    (dedup catches copies ACROSS documents; these catch degenerate text
    WITHIN a document — boilerplate loops, keyword stuffing, template spam).

    Entirely array-lambda math on the per-doc token array: a narrow map
    with NO shuffle and no explode — which beats exploding 100 TB of
    tokens into a groupBy(doc, token) shuffle just to find each doc's max.
    The per-doc mode count is the longest run of equal adjacent elements
    in the SORTED array, found by one F.aggregate fold (O(n log n) sort +
    O(n) scan per doc). The naive transform(distinct, x ->
    size(filter(arr, y -> y = x))) form is 40x slower here: higher-order
    lambdas are interpreted (no codegen), and the inner filter re-derives
    its argument expression per distinct element — the same
    double-evaluation trap the r4 review caught in vec_kmeans. Thresholds
    follow Rae et al. (Gopher) appendix A1 in spirit; exact values are
    fixture-tuned."""
    d = load(spark, sf_dir, "documents")

    def max_run(sorted_arr):
        # longest run of equal adjacent elements == count of the mode
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
            )

        return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])

    base = d.select("doc_id", F.split("text", " ").alias("l")).filter(F.size("l") >= 2)
    arrs = base.select(
        "doc_id",
        F.size("l").alias("n"),
        F.array_sort("l").alias("sw"),
        F.array_sort(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("l", i), F.element_at("l", i + 1)
                ),
            )
        ).alias("sb"),
    )
    n = F.col("n")
    uniq_ratio = F.size(F.array_distinct("sw")).cast("double") / n
    top_word = max_run(F.col("sw")).cast("double") / n
    top_bigram = max_run(F.col("sb")).cast("double") / (n - 1)
    return arrs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(top_word, 6).alias("top_word_frac"),
        F.round(top_bigram, 6).alias("top_bigram_frac"),
        ((uniq_ratio < 0.4) | (top_word > 0.15) | (top_bigram > 0.12)).alias(
            "is_repetitive"
        ),
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy (rare-document filter)
# ---------------------------------------------------------------------------
@register(
    "text_perplexity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1),
    tot AS (SELECT SUM(c) AS t FROM cnt),
    pd AS (
      SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             AVG(-ln(cnt.c / tot.t)) AS nll
      FROM tok JOIN cnt USING (token) CROSS JOIN tot
      GROUP BY tok.doc_id
    ),
    g AS (SELECT AVG(nll) AS gn FROM pd)
    SELECT doc_id, n_tokens, ROUND(nll, 6) AS avg_nll,
           ROUND(nll, 6) > ROUND(gn * 1.02, 6) AS is_outlier
    FROM pd CROSS JOIN g
    """,
)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model perplexity proxy: per-document average
    negative log-likelihood under the corpus's own unigram distribution —
    the cheap stand-in for the neural-LM perplexity filter every
    large-scale training-data pipeline runs (docs dominated by rare tokens
    score high; is_outlier flags docs 2% above the corpus mean, compared
    on ROUNDed values so the cut is engine-stable).

    Scale: token counts partial-aggregate before one shuffle on token;
    the per-doc scoring joins tokens to the vocabulary on token (at
    fixture scale Catalyst broadcasts the tiny vocab; a 100 TB vocab is
    still millions of rows — broadcastable — or bucketed on token if
    not), then re-aggregates on doc_id. The two 1-row scalars (corpus
    size, corpus-mean NLL) are broadcast cross joins, not driver
    collects."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = cnt.agg(F.sum("c").alias("t"))
    pd_ = (
        tok.join(cnt, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg(-F.log(F.col("c") / F.col("t"))).alias("nll"),
        )
    )
    g = pd_.agg(F.avg("nll").alias("gn"))
    return pd_.crossJoin(F.broadcast(g)).select(
        "doc_id",
        "n_tokens",
        F.round("nll", 6).alias("avg_nll"),
        (F.round("nll", 6) > F.round(F.col("gn") * 1.02, 6)).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (composition)
# ---------------------------------------------------------------------------
@register(
    "pipeline_curate_e2e",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, n_chars, text,
             len(string_split(text, ' ')) AS ntok,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS uniq_ratio
      FROM documents
    ),
    gated AS (
      SELECT * FROM scored
      WHERE n_chars BETWEEN 100 AND 1000 AND uniq_ratio >= 0.3
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY md5(lower(trim(text)))
                    ORDER BY doc_id) AS rk
        FROM gated)
      WHERE rk = 1
    ),
    split AS (
      SELECT *,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM deduped
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(uniq_ratio), 6) AS avg_uniq_ratio
    FROM split GROUP BY split, lang
    """,
)
def pipeline_curate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed declarative plan:
    quality gate (length band + unique-word ratio) -> exact dedup on
    normalized text (keep lowest doc_id) -> reshuffle-proof md5 train/
    valid/test split -> per-(split, lang) corpus summary. This is the
    query a real training-data pipeline runs nightly; registering the
    composition (not just the stages) proves the operators compose into
    one Catalyst plan — filters push through the dedup window, the split
    is a narrow map, and the only shuffles are the dedup's hash partition
    and the final summary aggregate.

    Scale: stage order matters and is the cheap-first order — the gate
    drops rows before the dedup shuffle, the dedup drops rows before the
    split/summary; nothing materializes between stages (no temp tables,
    one lazy plan end to end)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        "text",
        F.size(toks).alias("ntok"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("uniq_ratio"),
    )
    gated = scored.filter(
        F.col("n_chars").between(100, 1000) & (F.col("uniq_ratio") >= 0.3)
    )
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("doc_id")
    deduped = gated.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    h = F.pmod(_h64(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    return (
        deduped.select(split.alias("split"), "lang", "ntok", "n_chars", "uniq_ratio")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("uniq_ratio"), 6).alias("avg_uniq_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time (as-of) lookup against the SCD2 dimension history
# ---------------------------------------------------------------------------
@register(
    "join_scd2_pointintime",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rn2
      FROM orders
    ),
    iv AS (
      SELECT o_custkey, o_orderpriority, MIN(o_orderdate) AS vf
      FROM r GROUP BY o_custkey, o_orderpriority, rn - rn2
    ),
    iv2 AS (
      SELECT o_custkey, o_orderpriority, vf,
             LEAD(vf) OVER (PARTITION BY o_custkey
                            ORDER BY vf, o_orderpriority) AS vt
      FROM iv
    ),
    f AS (
      SELECT l.l_orderkey, CAST(l.l_shipdate AS TIMESTAMP) AS ship_ts,
             o.o_custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_linenumber = 1
    )
    SELECT f.l_orderkey, f.o_custkey, f.ship_ts,
           i.o_orderpriority AS priority_at_ship,
           CAST(i.vf AS TIMESTAMP) AS valid_from
    FROM f JOIN iv2 i
      ON f.o_custkey = i.o_custkey
     AND f.ship_ts >= CAST(i.vf AS TIMESTAMP)
     AND (i.vt IS NULL OR f.ship_ts < CAST(i.vt AS TIMESTAMP))
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: join each shipment fact to the
    customer's priority state AS OF the ship date, against the SCD2
    history built by the scd2_intervals logic — the temporal-correctness
    join every warehouse needs to avoid leaking FUTURE dimension values
    into historical facts (and every feature store needs to avoid
    train-time leakage). Intervals are made half-open [valid_from,
    next_valid_from) via LEAD, so each fact matches exactly one row.

    Scale: the history table is O(entities x changes) — orders of
    magnitude smaller than facts — so Catalyst broadcasts it and the
    fact scan never shuffles; with an un-broadcastable history, bucket
    both sides on the entity key and the range predicate evaluates
    in-partition (the join_interval_overlap shape)."""
    o = load(spark, sf_dir, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    iv = (
        o.select(
            "o_custkey",
            "o_orderpriority",
            "o_orderdate",
            (F.row_number().over(w1) - F.row_number().over(w2)).alias("island"),
        )
        .groupBy("o_custkey", "o_orderpriority", "island")
        .agg(F.min("o_orderdate").alias("vf"))
        .drop("island")
    )
    wl = Window.partitionBy("o_custkey").orderBy("vf", "o_orderpriority")
    iv2 = iv.withColumn("vt", F.lead("vf").over(wl))
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    f = li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", F.col("l_shipdate").alias("ship_ts"), "o_custkey"
    )
    return (
        f.join(
            F.broadcast(iv2),
            (f.o_custkey == iv2.o_custkey)
            & (F.col("ship_ts") >= F.col("vf"))
            & (F.col("vt").isNull() | (F.col("ship_ts") < F.col("vt"))),
        )
        .select(
            "l_orderkey",
            f.o_custkey.alias("o_custkey"),
            "ship_ts",
            F.col("o_orderpriority").alias("priority_at_ship"),
            F.col("vf").alias("valid_from"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance (fraud/DQ screen)
# ---------------------------------------------------------------------------
@register(
    "dq_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM c)
    SELECT c.digit, c.n,
           ROUND(c.n / t.tot, 6) AS obs_share,
           ROUND(log10(1 + 1.0 / c.digit), 6) AS benford_share,
           ROUND(pow(c.n / t.tot - log10(1 + 1.0 / c.digit), 2)
                 / log10(1 + 1.0 / c.digit) * t.tot, 4) AS chi2_term
    FROM c CROSS JOIN t
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance of order totals — the classic
    fabricated-numbers screen (synthetic or tampered financial columns
    drift from the log10(1 + 1/d) distribution; a large chi-square total
    flags the column for audit). Per-digit observed vs expected share and
    the chi-square contribution.

    Scale: one partial-agg groupBy over 9 groups + a 1-row broadcast
    total — the cheapest possible full-column screen, and a natural
    companion to dq_profile in the ingest DQ pass."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.agg(F.sum("n").cast("double").alias("tot"))
    obs = F.col("n") / F.col("tot")
    exp_ = F.log10(1 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp_, 6).alias("benford_share"),
        F.round(F.pow(obs - exp_, 2) / exp_ * F.col("tot"), 4).alias("chi2_term"),
    )


def _bigram_pairs(docs: DataFrame) -> DataFrame:
    """JVM-side bigram materialization shared by ``text_bigram_lm`` and
    ``text_bigram_kn``: an index-transform over the token array (no
    exploded self-join). The ``size >= 2`` guard matters: ``sequence(1,
    0)`` steps BACKWARD ([1, 0]) for a single-token document and would
    emit null-padded bigram rows the oracles' ``WHERE i < len(t)`` never
    produces (r6 advice; ``bpe_train_merges`` guards the same pattern).
    Pinned by ``tests/test_stats_extra.py::test_bigram_pairs_single_token_guard``."""
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")


@register(
    "text_bigram_lm",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    flat AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(2, len(l)), i -> l[i-1])) AS w1,
             unnest(list_transform(generate_series(2, len(l)), i -> l[i])) AS w2
      FROM toks
    ),
    bg AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS cbg FROM flat GROUP BY 1, 2),
    u AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS cw1 FROM flat GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vsize
          FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents))
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((cbg + 1) / (cw1 + vsize))), 6) AS bigram_nll
    FROM flat f JOIN bg USING (w1, w2) JOIN u USING (w1) CROSS JOIN v
    WHERE f.doc_id < 400
    GROUP BY f.doc_id
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing: per-document
    average negative log-probability −ln p(w_i | w_{i-1}) under the
    corpus's own bigram counts, p = (c(w1,w2)+1)/(c(w1·)+V). The
    second-order upgrade of ``text_perplexity`` — word-salad documents
    whose unigrams look normal light up here, the standard next screen in
    a curation stack.

    Plan: bigrams are materialized JVM-side (an index-transform over the
    token array — no self-join of exploded tokens), counted with
    map-side-combining groupBys, and joined back on (w1, w2) — a shuffle
    join whose build side is the bigram vocabulary, orders below corpus
    volume; V is a broadcast 1-row scalar. The scored-docs filter bounds
    the output, not the corpus statistics."""
    d = load(spark, sf_dir, "documents")
    flat = _bigram_pairs(d)
    bg = flat.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("cbg"))
    u = flat.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("cw1"))
    v = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("vsize"))
    )
    return (
        flat.filter(F.col("doc_id") < 400)
        .join(bg, ["w1", "w2"])
        .join(u, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(-F.log((F.col("cbg") + 1) / (F.col("cw1") + F.col("vsize")))), 6
            ).alias("bigram_nll"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (round 6)
# ---------------------------------------------------------------------------
_DSIR_B = 4096  # hashed-unigram feature buckets

_DSIR_BUCKET_SQL = (
    f"CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) % {_DSIR_B}"
)


@register(
    "text_importance_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
            FROM documents)
    ),
    tstat AS (
      SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM toks WHERE lang = 'en' GROUP BY bucket
    ),
    cstat AS (
      SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS cnt FROM toks GROUP BY bucket
    ),
    totals AS (
      SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS tot_t,
             CAST(COUNT(*) AS DOUBLE) AS tot_c
      FROM toks
    ),
    lr AS (
      SELECT c.bucket,
             ln((COALESCE(t.cnt, 0) + 1) / (tt.tot_t + {_DSIR_B}))
             - ln((c.cnt + 1) / (tt.tot_c + {_DSIR_B})) AS logratio
      FROM cstat c LEFT JOIN tstat t USING (bucket) CROSS JOIN totals tt
    )
    SELECT k.doc_id, ANY_VALUE(k.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(lr.logratio), 6) AS dsir_logweight,
           (SUM(lr.logratio) > 0) AS selected
    FROM toks k JOIN lr ON lr.bucket = k.bucket
    GROUP BY k.doc_id
    """,
)
def text_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection with importance resampling weights (Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): model the TARGET distribution (here the lang='en' slice)
    and the raw corpus as bags of hashed unigrams over {_DSIR_B} buckets,
    and score every document by its log importance ratio
    sum_tokens [ ln p_target(bucket) - ln p_corpus(bucket) ] with add-one
    smoothing — documents scoring > 0 look more target-like than average
    and are the ones importance resampling keeps.

    Plan: one explode + hash bucketing; the two bucket-distribution
    tables are <= {_DSIR_B} rows each and broadcast back onto the token
    stream; per-doc scoring is a partial-agg groupBy. At 100 TB this is
    the standard two-pass shape (corpus statistics, then a narrow
    re-score pass) with O(buckets) driver-independent state — the hashed
    feature space is what makes the method corpus-size-free. The bucket
    hash is the cross-engine md5 _h64, so the full pipeline is
    value-checked in DuckDB."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", "lang", (_h64(F.col("token")) % _DSIR_B).alias("bucket"))
    tstat = (
        toks.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("tcnt"))
    )
    cstat = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("ccnt")
    )
    totals = toks.agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("double").alias("tot_t"),
        F.count(F.lit(1)).cast("double").alias("tot_c"),
    )
    lr = (
        cstat.join(tstat, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tcnt"), F.lit(0.0)) + 1)
                    / (F.col("tot_t") + _DSIR_B)
                )
                - F.log((F.col("ccnt") + 1) / (F.col("tot_c") + _DSIR_B))
            ).alias("logratio"),
        )
    )
    return (
        toks.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("logratio"), 6).alias("dsir_logweight"),
            (F.sum("logratio") > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram smoothing (round 6)
# ---------------------------------------------------------------------------
_KN_D = 0.75  # absolute discount


@register(
    "text_bigram_kn",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    flat AS (
      -- index grid bounded at 4096 (fixture docs max ~100 tokens; the
      -- WHERE i < len(t) filter makes any larger bound a no-op)
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, (SELECT unnest(generate_series(1, 4096)) AS i) g
      WHERE i < len(t)
    ),
    bg AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS cbg
           FROM flat GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(cbg) AS DOUBLE) AS cw1,
                   CAST(COUNT(*) AS DOUBLE) AS ntypes
            FROM bg GROUP BY w1),
    cont AS (SELECT w2, CAST(COUNT(*) AS DOUBLE) AS ncont FROM bg GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbig FROM bg)
    SELECT b.w1, b.w2, CAST(b.cbg AS BIGINT) AS c_bigram,
           ROUND(
             (GREATEST(b.cbg - {_KN_D}, 0) / l.cw1)
             + ({_KN_D} * l.ntypes / l.cw1) * (c.ncont / t.nbig),
             6) AS p_kn
    FROM bg b
    JOIN lft l ON l.w1 = b.w1
    JOIN cont c ON c.w2 = b.w2
    CROSS JOIN tot t
    ORDER BY c_bigram DESC, b.w1, b.w2
    LIMIT 50
    """,
)
def text_bigram_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    the Chen-Goodman formulation with absolute discount D={_KN_D}):
    p_kn(w2|w1) = max(c(w1,w2)-D, 0)/c(w1·)
                 + D·|types after w1|/c(w1·) · |contexts of w2|/|bigrams|.
    The continuation-count back-off is what makes KN the strongest
    classical n-gram smoother (a word seen in many CONTEXTS backs off
    high, a frequent-but-context-bound word does not) — the quality step
    above `text_bigram_lm`'s add-one smoothing. Returns the top-50
    bigrams by raw count with their smoothed probabilities.

    Plan: three partial-agg groupBys over the SAME JVM-side bigram
    materialization text_bigram_lm uses (index-transform, no exploded
    self-join), joined back on w1/w2 — every statistic is a count table
    orders below corpus volume; the |bigrams| normalizer broadcasts as a
    1-row scalar. TakeOrdered bounds the output."""
    d = load(spark, sf_dir, "documents")
    flat = _bigram_pairs(d).select("w1", "w2")
    bg = flat.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("cbg"))
    lft = bg.groupBy("w1").agg(
        F.sum("cbg").alias("cw1"), F.count(F.lit(1)).cast("double").alias("ntypes")
    )
    cont = bg.groupBy("w2").agg(F.count(F.lit(1)).cast("double").alias("ncont"))
    tot = bg.agg(F.count(F.lit(1)).cast("double").alias("nbig"))
    p_kn = (
        F.greatest(F.col("cbg") - _KN_D, F.lit(0.0)) / F.col("cw1")
        + (_KN_D * F.col("ntypes") / F.col("cw1")) * (F.col("ncont") / F.col("nbig"))
    )
    return (
        bg.join(lft, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("cbg").cast("long").alias("c_bigram"),
            F.round(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.col("c_bigram").desc(), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (round 6)
# ---------------------------------------------------------------------------
_KANON_K = 5


@register(
    "privacy_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                      WHEN c_acctbal < 5000 THEN 'low'
                                      ELSE 'high' END) AS BIGINT) AS l_diversity
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, group_size, l_diversity,
           group_size < {_KANON_K} AS k_violation,
           l_diversity < 2 AS l_violation
    FROM qi
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et
    al. 2007) over the (nation, market-segment) quasi-identifier
    projection: every QI group's size (re-identification risk when
    < k={_KANON_K}) and the diversity of the sensitive attribute (binned
    account balance; a group where everyone shares one sensitive value
    leaks it even at size >= k). This is the privacy gate a
    training-data release pipeline runs before publishing joins of
    user-adjacent tables — alongside `text_pii_redact` for free text.

    Plan: ONE partial-agg groupBy carrying both the size and the
    distinct-sensitive-bin count; flags are narrow projections. At
    100 TB generalization ladders (coarser QI bins until violations
    vanish) re-run the same single-pass plan per ladder rung."""
    c = load(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(sens).cast("long").alias("l_diversity"),
    )
    return qi.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        "l_diversity",
        (F.col("group_size") < _KANON_K).alias("k_violation"),
        (F.col("l_diversity") < 2).alias("l_violation"),
    )


# ---------------------------------------------------------------------------
# Hashing-trick feature vectors (round 6)
# ---------------------------------------------------------------------------
_FH_DIM = 256  # feature buckets


@register(
    "ml_feature_hash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DSIR_BUCKET_SQL.replace('4096', str(_FH_DIM))} AS bucket
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id < 200)
    ),
    cells AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS INT) AS cnt
      FROM toks GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS nnz,
           array_to_string(list_transform(list_sort(list({{'b': bucket, 'c': cnt}})),
                                          s -> s.b), ',') AS indices_csv,
           array_to_string(list_transform(list_sort(list({{'b': bucket, 'c': cnt}})),
                                          s -> s.c), ',') AS values_csv
    FROM cells GROUP BY doc_id
    """,
)
def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): each document becomes a
    sparse {_FH_DIM}-dimensional count vector whose indices are md5
    token-hash buckets — the feature encoder that needs NO vocabulary
    pass or dictionary broadcast, which is what makes it the default
    featurizer for streaming / out-of-core learners (and Spark MLlib's
    own HashingTF shape, here with the cross-engine md5 so the exact
    vectors hash-verify). Output is the standard sparse form —
    sorted indices + aligned counts — serialized as CSV strings because
    the driver's canonicalizer cannot hash array cells.

    Plan: explode + (doc, bucket) partial-agg groupBy, then one
    collect_list per doc sorted inside the row (sort_array over structs
    — no per-doc window). At 100 TB this is embarrassingly parallel and
    dictionary-free by construction."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", (_h64(F.col("token")) % _FH_DIM).alias("bucket"))
    cells = toks.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("int").alias("cnt")
    )
    pairs = F.sort_array(F.collect_list(F.struct("bucket", "cnt")))
    # CSV-serialized sparse form: the driver's canonicalizer cannot hash
    # array cells (test_contract.py::test_all_outputs_scalar), so the
    # sorted index/value arrays emit as comma-joined strings
    return cells.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("nnz"),
        F.array_join(
            F.transform(pairs, lambda s: s["bucket"].cast("string")), ","
        ).alias("indices_csv"),
        F.array_join(
            F.transform(pairs, lambda s: s["cnt"].cast("string")), ","
        ).alias("values_csv"),
    )


# ---------------------------------------------------------------------------
# Differentially-private count release (round 7)
# ---------------------------------------------------------------------------
_DP_EPS = 0.5  # privacy budget -> Laplace scale b = 1/eps = 2.0 for counts


@register(
    "privacy_dp_counts",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment AS segment, n_nationkey % 5 AS region_bucket,
             CAST(COUNT(*) AS BIGINT) AS true_n
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    u AS (
      SELECT *,
             (CAST(concat('0x', substr(md5(segment || '#' ||
                    CAST(region_bucket AS VARCHAR) || '#dp42'), 1, 15))
                   AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS unif
      FROM g
    )
    SELECT segment, CAST(region_bucket AS INT) AS region_bucket, true_n,
           FLOOR((true_n
                  - {1.0 / _DP_EPS} * sign(unif - 0.5)
                    * ln(1.0 - 2.0 * abs(unif - 0.5))) * 1000) / 1000
             AS released_n
    FROM u
    """,
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (the Laplace mechanism, Dwork
    et al. 2006): each (segment, region) cell's count is released as
    n + Lap(1/eps), the standard way an aggregate table leaves a privacy
    boundary — the RELEASE step after the `privacy_k_anonymity` audit.
    Sensitivity of a count is 1, so scale b = 1/eps = {1.0 / _DP_EPS}.

    The Laplace draw is DETERMINISTIC and cross-engine: a seeded
    md5-uniform u in (0,1) (quantized to 1e-6 with a half-offset so
    u is never exactly 0.5 and 1-2|u-0.5| is never 0 — ln stays finite)
    feeds the inverse CDF −b·sign(u−½)·ln(1−2|u−½|). A production
    deployment would swap the seeded uniform for a CSPRNG draw; every
    other part of the release — sensitivity accounting, the inverse-CDF
    transform, the post-processing floor — is the real mechanism.
    Released values floor to the milli-grid (ln-ulp margin pinned by
    pytest, the fn_geo contract).

    Plan: one partial-agg groupBy + a narrow codegen projection; the
    noise math never touches row volume. true_n stays in the output so
    the oracle can pin the noise exactly — a real release would drop it."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    g = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.col("n_nationkey") % 5).alias("region_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    )
    seed = F.concat_ws(
        "#", F.col("segment"), F.col("region_bucket").cast("string"), F.lit("dp42")
    )
    unif = (
        F.conv(F.substring(F.md5(seed), 1, 15), 16, 10).cast("long") % 1_000_000
        + 0.5
    ) / 1_000_000.0
    b = 1.0 / _DP_EPS
    lap = -b * F.signum(unif - 0.5) * F.log(1.0 - 2.0 * F.abs(unif - 0.5))
    return g.select(
        "segment",
        F.col("region_bucket").cast("int").alias("region_bucket"),
        "true_n",
        (F.floor((F.col("true_n") + lap) * 1000) / 1000).alias("released_n"),
    )


# ---------------------------------------------------------------------------
# Population-stability-index drift report (round 8)
# ---------------------------------------------------------------------------
_PSI_SPLIT = "1998-01-01"  # reference period A < split <= comparison period B


@register(
    "dq_psi",
    oracle=f"""
    WITH lab AS (
      SELECT o_totalprice,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PSI_SPLIT}'
                  THEN 'A' ELSE 'B' END AS period
      FROM orders
    ),
    edges AS (
      SELECT quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
      FROM lab WHERE period = 'A'
    ),
    binned AS (
      SELECT period,
             1 + len(list_filter(e, x -> o_totalprice > x)) AS bin
      FROM lab CROSS JOIN edges
    ),
    per AS (
      SELECT bin,
             CAST(SUM(CASE WHEN period = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN period = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n_a) AS DOUBLE) AS ta, CAST(SUM(n_b) AS DOUBLE) AS tb
      FROM per
    )
    SELECT CAST(bin AS INT) AS bin, n_a, n_b,
           ROUND(n_a / ta, 6) AS share_a,
           ROUND(n_b / tb, 6) AS share_b,
           ROUND((n_a / ta - n_b / tb) * ln((n_a / ta) / (n_b / tb)), 6)
             AS psi_contrib
    FROM per CROSS JOIN tot
    """,
)
def dq_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the pre-{_PSI_SPLIT} reference
    period and everything after: bin edges are the REFERENCE period's
    exact deciles (the defining PSI convention — drift is measured against
    where the training data lived), each period's share per bin, and the
    per-bin PSI contribution (p_A - p_B) * ln(p_A / p_B). Total PSI < 0.1
    = stable, > 0.25 = retrain — the standard model-monitoring drift gate,
    complementing `agg_ks_test` (which compares the same two slices
    nonparametrically) and `dq_profile`.

    Plan: one exact-percentile aggregate over the reference slice produces
    a 9-edge array that BROADCASTS onto the full scan; binning is a narrow
    size(filter(edges, ...)) projection (no per-row join), then one
    O(bins) aggregate. At 100 TB swap the exact decile edges for
    approx_percentile — the `etl_winsorize` trade, shares move only by
    sketch error. Shares are ratios of exact integers; only ln's last ulp
    is exposed before ROUND(·, 6)."""
    o = load(spark, sf_dir, "orders")
    lab = o.select(
        "o_totalprice",
        F.when(
            F.col("o_orderdate").cast("date") < F.lit(_PSI_SPLIT).cast("date"), "A"
        )
        .otherwise("B")
        .alias("period"),
    )
    edges = lab.filter(F.col("period") == "A").agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("e")
    )
    binned = lab.crossJoin(F.broadcast(edges)).select(
        "period",
        (
            1 + F.size(F.expr("filter(e, x -> o_totalprice > x)"))
        ).alias("bin"),
    )
    per = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("period") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tot = per.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    pa = F.col("n_a") / F.col("ta")
    pb = F.col("n_b") / F.col("tb")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        "n_a",
        "n_b",
        F.round(pa, 6).alias("share_a"),
        F.round(pb, 6).alias("share_b"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# k-anonymity generalization ladder (round 8)
# ---------------------------------------------------------------------------


@register(
    "privacy_generalization_ladder",
    oracle=f"""
    WITH base AS (
      SELECT c.c_nationkey, n.n_regionkey, c.c_mktsegment
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    rungs AS (
      SELECT 0 AS rung, CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment
               AS qi FROM base
      UNION ALL
      SELECT 1, CAST(n_regionkey AS VARCHAR) || '|' || c_mktsegment FROM base
      UNION ALL
      SELECT 2, c_mktsegment FROM base
    ),
    groups_ AS (
      SELECT rung, qi, CAST(COUNT(*) AS BIGINT) AS sz
      FROM rungs GROUP BY 1, 2
    )
    SELECT CAST(rung AS INT) AS rung,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(sz) AS BIGINT) AS min_group
    FROM groups_ GROUP BY rung
    """,
)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalization ladder `privacy_k_anonymity`'s docstring
    promises: re-audit k-anonymity at successively coarser
    quasi-identifier projections — rung 0 (nation, segment), rung 1
    (region, segment), rung 2 (segment only) — reporting per rung the
    group count, groups under k={_KANON_K}, and rows at re-identification
    risk. The release process picks the FIRST rung with zero violations:
    the minimal generalization that satisfies the privacy bar (Sweeney's
    full-domain generalization, evaluated bottom-up).

    Plan: the three rungs stack via UNION ALL before ONE partial-agg
    groupBy, so the whole ladder costs one shuffle of O(sum of rung
    group counts) rows — not one job per rung. The region lookup is a
    broadcast of the 5-row nation->region dim."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = c.join(F.broadcast(n), n.n_nationkey == c.c_nationkey).select(
        "c_nationkey", "n_regionkey", "c_mktsegment"
    )
    rungs = (
        base.select(
            F.lit(0).alias("rung"),
            F.concat_ws("|", F.col("c_nationkey").cast("string"), "c_mktsegment")
            .alias("qi"),
        )
        .unionAll(
            base.select(
                F.lit(1),
                F.concat_ws(
                    "|", F.col("n_regionkey").cast("string"), "c_mktsegment"
                ),
            )
        )
        .unionAll(base.select(F.lit(2), F.col("c_mktsegment")))
    )
    groups_ = rungs.groupBy("rung", "qi").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return groups_.groupBy("rung").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("sz") < _KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("sz").cast("long").alias("min_group"),
    ).select(
        F.col("rung").cast("int").alias("rung"),
        "n_groups",
        "n_violating_groups",
        "n_rows_at_risk",
        "min_group",
    )


# ---------------------------------------------------------------------------
# Ordered CDC change-log replay (round 8)
# ---------------------------------------------------------------------------


@register(
    "warehouse_cdc_replay",
    oracle="""
    WITH log_ AS (
      SELECT o_orderkey AS k, 0 AS seq, 'I' AS op,
             ROUND(o_totalprice, 2) AS price
      FROM orders
      UNION ALL
      SELECT o_orderkey, 1, 'U', FLOOR(o_totalprice * 95) / 100
      FROM orders WHERE o_orderkey % 11 = 4
      UNION ALL
      SELECT o_orderkey, 2, 'U', FLOOR(o_totalprice * 105) / 100
      FROM orders WHERE o_orderkey % 7 = 1
      UNION ALL
      SELECT o_orderkey, 3, 'D', NULL
      FROM orders WHERE o_orderkey % 13 = 2
    ),
    latest AS (
      SELECT k, max_by(op, seq) AS last_op, max_by(price, seq) AS price
      FROM log_ GROUP BY k
    )
    SELECT last_op,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(SUM(CASE WHEN last_op <> 'D' THEN price ELSE 0 END), 2)
             AS sum_price
    FROM latest GROUP BY last_op
    """,
)
def warehouse_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CDC change-log replay — the Debezium/Delta-CDF compaction
    step `merge_upsert` doesn't cover: a multi-operation log
    (insert@0, two update generations, delete@3 — synthesized
    deterministically from the fixture so the oracle reproduces it)
    collapses to latest-operation-per-key in ONE aggregate, and deletes
    drop out of the final state. This latest-wins reduction is what turns
    a raw change stream into a MERGE-able batch: without it a key with
    multiple log entries hits MERGE's multiple-matches error.

    Plan: max_by(·, seq) pairs reduce map-side (partial agg carries one
    (seq, value) per key per partition) — the log never sorts globally and
    never shuffles more than one row per (key, partition). At 100 TB the
    same plan consumes a day's change files and feeds `merge_upsert`
    against the bucketed target. Update prices FLOOR to cents (the
    merge_upsert half-cent convention)."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    log_ = (
        o.select(
            k.alias("k"),
            F.lit(0).alias("seq"),
            F.lit("I").alias("op"),
            F.round("o_totalprice", 2).alias("price"),
        )
        .unionAll(
            o.filter(k % 11 == 4).select(
                k,
                F.lit(1),
                F.lit("U"),
                F.floor(F.col("o_totalprice") * 95) / 100,
            )
        )
        .unionAll(
            o.filter(k % 7 == 1).select(
                k,
                F.lit(2),
                F.lit("U"),
                F.floor(F.col("o_totalprice") * 105) / 100,
            )
        )
        .unionAll(
            o.filter(k % 13 == 2).select(
                k, F.lit(3), F.lit("D"), F.lit(None).cast("double")
            )
        )
    )
    latest = log_.groupBy("k").agg(
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("price", "seq").alias("price"),
    )
    return latest.groupBy("last_op").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.round(
            F.sum(F.when(F.col("last_op") != "D", F.col("price")).otherwise(0)), 2
        ).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Entropy and recursive (c,l)-diversity (round 8, continuation)
# ---------------------------------------------------------------------------
_ELDIV_L = 2.0  # entropy l-diversity threshold: H >= ln(l)
_ELDIV_C = 2.0  # recursive (c,l): top sensitive count < c * sum(rest)


@register(
    "privacy_entropy_ldiv",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS sens,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(SUM(cnt) AS BIGINT) AS n,
             FLOOR(EXP(-SUM(cnt / gt * ln(cnt / gt))) * 10000) / 10000
               AS entropy_l,
             FLOOR(MAX(cnt) / gt * 10000) / 10000 AS max_share,
             MAX(cnt) < {_ELDIV_C} * (gt - MAX(cnt)) AS recursive_ok
      FROM (SELECT *, SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment)
                        AS gt
            FROM cells)
      GROUP BY c_nationkey, c_mktsegment, gt
    )
    SELECT c_nationkey, c_mktsegment, n, entropy_l, max_share,
           entropy_l >= {_ELDIV_L} AS entropy_ok, recursive_ok
    FROM g
    """,
)
def privacy_entropy_ldiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity and recursive (c,l)-diversity (Machanavajjhala
    et al. 2007 §3-4) — the two STRONGER diversity tests
    `privacy_k_anonymity`'s distinct-count check cannot express: a QI
    group can hold l distinct sensitive values yet be 99% one value
    (distinct-l passes, an attacker still wins). Per (nation, segment)
    QI group over the binned-balance sensitive attribute:
    effective diversity exp(H) (passes when >= l={_ELDIV_L:.0f}, i.e.
    H >= ln l), the top value's share, and the recursive test
    r1 < c * (n - r1) with c={_ELDIV_C:.0f}.

    Plan: one partial-agg groupBy to the O(QI x sensitive) contingency
    cells — the ONLY stage that sees data volume — then a window/group
    pass over those tiny cells; identical shape to `agg_chisq`'s
    marginals. Shares are ratios of exact integer counts, so the only
    float work is ln/exp on identical doubles, FLOORed at 1e-4;
    boolean flags compare post-floor values, engine-identical."""
    c = load(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    cells = c.groupBy("c_nationkey", "c_mktsegment", sens.alias("sens")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    withtot = cells.select(
        "c_nationkey", "c_mktsegment", "cnt", F.sum("cnt").over(w).alias("gt")
    )
    share = F.col("cnt") / F.col("gt")
    f4 = lambda col: F.floor(col * 10000) / 10000  # noqa: E731
    g = withtot.groupBy("c_nationkey", "c_mktsegment", "gt").agg(
        F.sum("cnt").cast("long").alias("n"),
        f4(F.exp(-F.sum(share * F.log(share)))).alias("entropy_l"),
        f4(F.max("cnt") / F.first("gt")).alias("max_share"),
        (F.max("cnt") < _ELDIV_C * (F.first("gt") - F.max("cnt"))).alias(
            "recursive_ok"
        ),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        "entropy_l",
        "max_share",
        (F.col("entropy_l") >= _ELDIV_L).alias("entropy_ok"),
        "recursive_ok",
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing weights (round 8, continuation)
# ---------------------------------------------------------------------------
_MIX_ALPHA = 0.5  # temperature exponent (sqrt — IEEE-exact in both engines)
_MIX_BUDGET_X = 2.0  # token budget as a multiple of the corpus size


@register(
    "domain_mix_temperature",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT SUM(n_tokens) AS tot, SUM(sqrt(n_tokens)) AS totw FROM c
    )
    SELECT c.source, c.n_docs,
           CAST(c.n_tokens AS BIGINT) AS n_tokens,
           FLOOR(c.n_tokens / t.tot * 1000000) / 1000000 AS nat_share,
           FLOOR(sqrt(c.n_tokens) / t.totw * 1000000) / 1000000 AS temp_share,
           FLOOR(sqrt(c.n_tokens) / t.totw * t.tot * {_MIX_BUDGET_X}
                 / c.n_tokens * 10000) / 10000 AS epochs
    FROM c CROSS JOIN t
    """,
)
def domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing weights — the multilingual/
    multi-domain sampling scheme of mT5 / the Pile / Llama data recipes:
    sampling probability p_i ∝ n_i^alpha with alpha={_MIX_ALPHA}
    up-weights small domains relative to their natural share (alpha=1)
    without the uniform extreme (alpha=0). Per source: the natural and
    temperature shares, and the EPOCH COUNT each source would sustain
    under a {_MIX_BUDGET_X:.0f}x-corpus token budget — the number that
    exposes over-sampling risk (epochs >> 1 on a small domain means
    memorization pressure; the readout data teams actually argue over).
    `domain_mix_sample` materializes a balanced SAMPLE; this operator
    computes the WEIGHTS a temperature-mixing loader would consume.

    Plan: one partial-agg scan to O(sources) rows, one 1-row total
    broadcast — nothing else. alpha=0.5 makes the power a sqrt
    (IEEE-exact, engine-identical); shares FLOOR at 1e-6, epochs at
    1e-4."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("double")
        .alias("n_tokens"),
    )
    t = c.agg(
        F.sum("n_tokens").alias("tot"),
        F.sum(F.sqrt(F.col("n_tokens"))).alias("totw"),
    )
    f6 = lambda col: F.floor(col * 1000000) / 1000000  # noqa: E731
    f4 = lambda col: F.floor(col * 10000) / 10000  # noqa: E731
    return c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        f6(F.col("n_tokens") / F.col("tot")).alias("nat_share"),
        f6(F.sqrt(F.col("n_tokens")) / F.col("totw")).alias("temp_share"),
        f4(
            F.sqrt(F.col("n_tokens"))
            / F.col("totw")
            * F.col("tot")
            * _MIX_BUDGET_X
            / F.col("n_tokens")
        ).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# t-closeness (round 9) — completes the k-anonymity / l-diversity trio
# ---------------------------------------------------------------------------
_TCLOSE_T = 0.2  # the conventional disclosure threshold from Li et al. 2007


@register(
    "privacy_t_closeness",
    oracle=f"""
    WITH tiers AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal < 5000 THEN 1 ELSE 2 END AS tier
      FROM customer
    ),
    per AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1
      FROM tiers GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS gn,
             CAST(SUM(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS g0,
             CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS g1
      FROM tiers
    ),
    emd AS (
      SELECT c_nationkey, c_mktsegment, n,
             (ABS(n0 / n - g0 / gn)
              + ABS((n0 + n1) / n - (g0 + g1) / gn)) / 2.0 AS t
      FROM per CROSS JOIN g
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(n AS BIGINT) AS group_size,
           ROUND(t, 6) AS t_closeness,
           t > {_TCLOSE_T} AS t_violation
    FROM emd
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian 2007): for each
    quasi-identifier class — the same (nation, market segment) QI and
    acctbal-tier sensitive attribute as `privacy_k_anonymity` and
    `privacy_entropy_ldiv`, completing the disclosure-risk trio — the
    Earth Mover's Distance between the class's sensitive-value
    distribution and the global one, with the conventional t>{_TCLOSE_T}
    violation flag. l-diversity only counts distinct sensitive values; a
    class can be 3-diverse yet 95% 'neg' while the table is 5% 'neg' —
    exactly the skew EMD measures. For the ORDERED 3-tier attribute the
    EMD has the closed prefix-sum form (|cum1| + |cum2|) / (m-1), so no
    LP solve is needed.

    All quantities are ratios of exact integer counts computed
    identically in both engines — bit-deterministic, ROUND(6) is
    display-only. Scale: one partial-aggregating groupBy over the QI
    classes plus a 1-row global aggregate broadcast onto them; the
    privacy audit runs at any volume for the cost of one group-by scan."""
    c = load(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2)
    )
    t = c.select("c_nationkey", "c_mktsegment", tier.alias("tier"))
    per = t.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("tier") == 0).cast("int")).cast("double").alias("n0"),
        F.sum((F.col("tier") == 1).cast("int")).cast("double").alias("n1"),
    )
    g = t.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum((F.col("tier") == 0).cast("int")).cast("double").alias("g0"),
        F.sum((F.col("tier") == 1).cast("int")).cast("double").alias("g1"),
    )
    emd = per.crossJoin(F.broadcast(g)).select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        (
            (
                F.abs(F.col("n0") / F.col("n") - F.col("g0") / F.col("gn"))
                + F.abs(
                    (F.col("n0") + F.col("n1")) / F.col("n")
                    - (F.col("g0") + F.col("g1")) / F.col("gn")
                )
            )
            / 2.0
        ).alias("t"),
    )
    return emd.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("long").alias("group_size"),
        F.round("t", 6).alias("t_closeness"),
        (F.col("t") > _TCLOSE_T).alias("t_violation"),
    )


# ---------------------------------------------------------------------------
# Data-freshness / load-completeness audit (round 9)
# ---------------------------------------------------------------------------
_FRESH_STALE_DAYS = 2
_FRESH_PARTIAL = 0.5  # final day below half its trailing-7d mean -> partial


@register(
    "dq_freshness",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    asof_t AS (SELECT MAX(d) AS asof_d FROM daily),
    last_seen AS (
      SELECT event_type, MAX(d) AS last_d FROM daily GROUP BY 1
    ),
    trail7 AS (
      SELECT dl.event_type,
             AVG(CAST(dl.n AS DOUBLE)) AS t7_avg
      FROM daily dl JOIN last_seen ls USING (event_type)
      WHERE dl.d >= ls.last_d - 7 AND dl.d < ls.last_d
      GROUP BY 1
    ),
    final_day AS (
      SELECT dl.event_type, dl.n AS n_last
      FROM daily dl JOIN last_seen ls
        ON ls.event_type = dl.event_type AND dl.d = ls.last_d
    )
    SELECT ls.event_type,
           CAST(ls.last_d AS BIGINT) AS last_day,
           CAST(a.asof_d - ls.last_d AS BIGINT) AS days_stale,
           f.n_last AS n_last_day,
           ROUND(t.t7_avg, 4) AS trailing7_avg,
           ROUND(f.n_last / t.t7_avg, 6) AS completeness_ratio,
           a.asof_d - ls.last_d >= {_FRESH_STALE_DAYS} AS is_stale,
           f.n_last / t.t7_avg < {_FRESH_PARTIAL} AS is_partial
    FROM last_seen ls
    JOIN trail7 t USING (event_type)
    JOIN final_day f ON f.event_type = ls.event_type
    CROSS JOIN asof_t a
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness and load-completeness audit: per event stream, the
    last day with data, its staleness against the table-wide as-of day,
    the final day's volume vs its own trailing-7-day mean, and the two
    alert flags every pipeline pager fires on — `is_stale` (stream
    stopped arriving) and `is_partial` (today's load arrived, but
    suspiciously small — the truncated-backfill smell). Completes the dq
    family (profile / expectations / PSI / Benford) with the operational
    arrival dimension those content checks assume is healthy.

    All day keys are the module's pinned integer datediff; volumes are
    exact counts; the trailing mean divides exact integers (AVG over <=7
    rows) — deterministic, ROUND display-only.

    Scale: one partial-aggregating scan to O(types x days) rows;
    everything else joins that tiny frame to itself plus a broadcast
    1-row as-of aggregate. The audit costs one group-by of the day's
    arrivals at any volume."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    asof = daily.agg(F.max("d").alias("asof_d"))
    last_seen = daily.groupBy("event_type").agg(F.max("d").alias("last_d"))
    trailing = (
        daily.join(last_seen, "event_type")
        .filter(
            (F.col("d") >= F.col("last_d") - 7) & (F.col("d") < F.col("last_d"))
        )
        .groupBy("event_type")
        .agg(F.avg(F.col("n").cast("double")).alias("t7_avg"))
    )
    final_day = (
        daily.join(last_seen, "event_type")
        .filter(F.col("d") == F.col("last_d"))
        .select("event_type", F.col("n").alias("n_last"))
    )
    return (
        last_seen.join(trailing, "event_type")
        .join(final_day, "event_type")
        .crossJoin(F.broadcast(asof))
        .select(
            "event_type",
            F.col("last_d").cast("long").alias("last_day"),
            (F.col("asof_d") - F.col("last_d")).cast("long").alias("days_stale"),
            F.col("n_last").alias("n_last_day"),
            F.round("t7_avg", 4).alias("trailing7_avg"),
            F.round(F.col("n_last") / F.col("t7_avg"), 6).alias(
                "completeness_ratio"
            ),
            (F.col("asof_d") - F.col("last_d") >= _FRESH_STALE_DAYS).alias(
                "is_stale"
            ),
            (F.col("n_last") / F.col("t7_avg") < _FRESH_PARTIAL).alias("is_partial"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (round 9)
# ---------------------------------------------------------------------------
_RI_EDGES = (
    # (child table, child col, parent table, parent col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # deliberately MIS-DECLARED edge: supplier.s_nationkey against region
    # keys (0-4) orphans every nation key >= 5 by construction — the live
    # "violations found" branch of the audit at every scale factor
    ("supplier", "s_nationkey", "region", "r_regionkey"),
)


def _ri_oracle() -> str:
    legs = [
        f"""
    SELECT '{ct}.{cc}' AS fk_edge, '{pt}.{pc}' AS parent,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(SUM(CASE WHEN p.{pc} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans,
           ROUND(SUM(CASE WHEN p.{pc} IS NULL THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 6) AS orphan_share
    FROM {ct} c LEFT JOIN (SELECT DISTINCT {pc} FROM {pt}) p
      ON p.{pc} = c.{cc}"""
        for ct, cc, pt, pc in _RI_EDGES
    ]
    return "\n    UNION ALL".join(legs)


@register("dq_referential_integrity", oracle=_ri_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the whole star schema in one
    result: for every declared FK edge, the child row count, orphan count
    (child keys with no parent), and orphan share — the constraint check
    a lakehouse runs after every load because parquet enforces nothing.
    The six TPC-H edges hold by construction (0 orphans); the seventh
    (supplier.s_nationkey checked against REGION keys, a deliberately
    mis-declared constraint) orphans every nation key >= 5, so the
    "violations found" branch is live at the driver tier, not just in a
    unit test.

    Scale: each leg is one LEFT join of the child against the DISTINCT
    parent keys (a broadcast for dimension parents; key-aligned shuffle
    for fact-fact) + a count — no row data moves, only keys. The legs are
    independent and union lazily, so Catalyst schedules them as parallel
    subtrees of one job."""
    out = None
    for ct, cc, pt, pc in _RI_EDGES:
        child = load(spark, sf_dir, ct)
        parent = load(spark, sf_dir, pt).select(pc).distinct()
        leg = (
            child.join(parent, child[cc] == parent[pc], "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child_rows"),
                F.sum(F.when(F.col(pc).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
                F.round(
                    F.sum(F.when(F.col(pc).isNull(), 1.0).otherwise(0.0))
                    / F.count(F.lit(1)),
                    6,
                ).alias("orphan_share"),
            )
            .select(
                F.lit(f"{ct}.{cc}").alias("fk_edge"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                "n_child_rows",
                "n_orphans",
                "orphan_share",
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Multi-rule quality gate with per-rule rejection accounting (round 10)
# ---------------------------------------------------------------------------
_QG_MIN_TOK, _QG_MAX_TOK = 20, 90  # C4-style length gates
_QG_TOP_SHARE = 0.125  # max share of the most frequent token (repetition)
_QG_LANGS = ("en", "de", "fr", "es")  # supported-language allowlist


@register(
    "pipeline_quality_gate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, lang,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS ntok
      FROM documents
    ),
    m AS (
      SELECT source,
             ntok < {_QG_MIN_TOK} AS r_short,
             ntok > {_QG_MAX_TOK} AS r_long,
             (SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt
                                    FROM UNNEST(toks) AS u(t) GROUP BY t))
               * 1.0 / ntok > {_QG_TOP_SHARE} AS r_repeat,
             lang NOT IN ('en', 'de', 'fr', 'es') AS r_lang
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS rej_short,
           CAST(SUM(CASE WHEN r_long THEN 1 ELSE 0 END) AS BIGINT) AS rej_long,
           CAST(SUM(CASE WHEN r_repeat THEN 1 ELSE 0 END) AS BIGINT) AS rej_repeat,
           CAST(SUM(CASE WHEN r_lang THEN 1 ELSE 0 END) AS BIGINT) AS rej_lang,
           CAST(SUM(CASE WHEN NOT (r_short OR r_long OR r_repeat OR r_lang)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           ROUND(SUM(CASE WHEN NOT (r_short OR r_long OR r_repeat OR r_lang)
                          THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS pass_rate
    FROM m GROUP BY source
    """,
)
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style multi-rule document quality gate with PER-RULE rejection
    accounting: length window [{_QG_MIN_TOK}, {_QG_MAX_TOK}] tokens,
    repetition (most frequent token above {_QG_TOP_SHARE} of the doc),
    and a supported-language allowlist — reported per source as rule-hit
    counts plus the survival rate. The accounting is the point: a gate
    that only emits survivors can silently lose a source to one
    misconfigured rule, which is why production curation pipelines
    (C4, Gopher/MassiveText, RefinedWeb rules) always ship rejection
    breakdowns alongside the filtered corpus.

    Plan: every rule is a PER-ROW expression — length and language from
    the row itself; the top-token share via aggregate/transform over the
    in-row token array (array_distinct x filter is O(ntok * vocab_in_doc)
    scalar work inside codegen, no explode, no shuffle). The only
    exchange is the final per-source rollup of boolean sums. At 100 TB
    the gate is a single map pass over the corpus — the cheapest shape a
    document filter can have."""
    d = load(spark, sf_dir, "documents").select(
        # token array staged as a real column so the nested top-token
        # filter doesn't re-split the text per distinct token (the
        # llm_text._doc_shingle_arrays fix, r14)
        "source",
        "lang",
        F.split("text", " ").alias("_tk"),
    )
    toks = F.col("_tk")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    )
    m = d.select(
        "source",
        (F.size(toks) < _QG_MIN_TOK).alias("r_short"),
        (F.size(toks) > _QG_MAX_TOK).alias("r_long"),
        (top_cnt / F.size(toks) > _QG_TOP_SHARE).alias("r_repeat"),
        (~F.col("lang").isin(*_QG_LANGS)).alias("r_lang"),
    )
    rejected = F.col("r_short") | F.col("r_long") | F.col("r_repeat") | F.col("r_lang")
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("r_short"), 1).otherwise(0)).cast("long").alias(
            "rej_short"
        ),
        F.sum(F.when(F.col("r_long"), 1).otherwise(0)).cast("long").alias("rej_long"),
        F.sum(F.when(F.col("r_repeat"), 1).otherwise(0)).cast("long").alias(
            "rej_repeat"
        ),
        F.sum(F.when(F.col("r_lang"), 1).otherwise(0)).cast("long").alias("rej_lang"),
        F.sum(F.when(~rejected, 1).otherwise(0)).cast("long").alias("n_pass"),
        F.round(
            F.sum(F.when(~rejected, 1.0).otherwise(0.0)) / F.count(F.lit(1)), 6
        ).alias("pass_rate"),
    )


# ---------------------------------------------------------------------------
# One-row dataset card (round 11)
# ---------------------------------------------------------------------------


@register(
    "pipeline_dataset_card",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           ROUND(SUM(len(string_split(text, ' '))) * 1.0 / COUNT(*), 4)
             AS mean_tokens_per_doc,
           ROUND(1.0 - COUNT(DISTINCT text) * 1.0 / COUNT(*), 6)
             AS exact_dup_rate,
           ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS en_share
    FROM documents
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card for the document corpus: size (docs, tokens,
    chars), composition (sources, languages, English share), and health
    (exact-duplicate rate) — the summary block of a Datasheets/Dataset
    Cards release artifact (Gebru et al. 2021) and the first thing a
    data-mix review reads; every number here is a first-class operator
    elsewhere in the registry (dedup_exact_text, text_lang_stats,
    cap_docs_per_source), this is the composed headline view.

    Plan: ONE scan with per-row token/char expressions in codegen; the
    distinct counts ride the same aggregate. The text-distinct count is
    computed over a sha2-256 digest on the Spark side (bounded-width
    shuffle keys instead of full document bodies — the dedup_exact_text
    convention; equal counts barring a 2^-128 collision, which is the
    industry-standard trade at 100 TB)."""
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.round(
            F.sum(F.size(F.split("text", " "))) / F.count(F.lit(1)), 4
        ).alias("mean_tokens_per_doc"),
        F.round(
            1.0 - F.countDistinct(F.sha2("text", 256)) / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("en_share"),
    )


# ---------------------------------------------------------------------------
# k-ary randomized response (round 11 tail)
# ---------------------------------------------------------------------------
import math as _math

_RR_EPS = 1.0
_RR_CATS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_RR_K = len(_RR_CATS)
_RR_P = _math.exp(_RR_EPS) / (_math.exp(_RR_EPS) + _RR_K - 1)  # P(report truth)
_RR_Q = 1.0 / (_math.exp(_RR_EPS) + _RR_K - 1)  # P(report a specific lie)
# integer truth threshold on the 60-bit md5 uniform: u < T -> report truth;
# otherwise (u - T) % (k-1) picks the lie. Pure integer arithmetic, so the
# derandomized channel is bit-identical across engines (no float compare).
_RR_T = int(_RR_P * (1 << 60))


@register(
    "privacy_randomized_response",
    oracle=f"""
    WITH cats AS (
      SELECT UNNEST(['{"','".join(_RR_CATS)}']) AS cat,
             UNNEST(generate_series(1, {_RR_K})) AS pos
    ),
    resp AS (
      SELECT c.c_mktsegment AS truth, t.pos AS tpos,
             CAST(concat('0x', substr(md5(concat('rr-',
                    CAST(c.c_custkey AS VARCHAR))), 1, 15)) AS BIGINT) AS u
      FROM customer c JOIN cats t ON t.cat = c.c_mktsegment
    ),
    reported AS (
      SELECT truth,
             CASE WHEN u < {_RR_T} THEN tpos
                  ELSE CASE WHEN 1 + (u - {_RR_T}) % {_RR_K - 1} >= tpos
                            THEN 2 + (u - {_RR_T}) % {_RR_K - 1}
                            ELSE 1 + (u - {_RR_T}) % {_RR_K - 1} END
             END AS rpos
      FROM resp
    ),
    obs AS (
      SELECT cat, CAST(COUNT(r.rpos) AS DOUBLE) AS c_obs
      FROM cats LEFT JOIN reported r ON r.rpos = cats.pos GROUP BY cat
    ),
    tru AS (SELECT truth AS cat, COUNT(*) AS n_true FROM reported GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM reported)
    SELECT obs.cat AS segment,
           COALESCE(tru.n_true, 0) AS true_n,
           CAST(obs.c_obs AS BIGINT) AS reported_n,
           ROUND((obs.c_obs - n.n * {_RR_Q}) / ({_RR_P} - {_RR_Q}), 3) + 0.0
             AS est_n,
           ROUND(((obs.c_obs - n.n * {_RR_Q}) / ({_RR_P} - {_RR_Q})
                  - COALESCE(tru.n_true, 0))
                 / COALESCE(tru.n_true, 1), 6) + 0.0 AS rel_err
    FROM obs LEFT JOIN tru USING (cat) CROSS JOIN n
    ORDER BY segment
    """,
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ary randomized response (Warner 1965; the RAPPOR/Apple-DP local
    model): each customer reports their true market segment with
    p = e^eps/(e^eps + k - 1) = {_RR_P:.4f} and each specific other
    segment with q = {_RR_Q:.4f}, then the collector inverts the channel
    with the unbiased estimator n_hat_j = (c_j - N q)/(p - q). The LOCAL
    counterpart of `privacy_dp_counts` (there the curator adds Laplace
    noise to true aggregates; here no one ever SEES a truthful row).
    Reports true/observed/estimated counts and the estimator's relative
    error per segment.

    The channel is derandomized on a 60-bit md5 integer with a pinned
    integer threshold and modulus — pure integer comparisons, so both
    engines flip identical coins (the privacy_dp_counts seeded-noise
    convention; production swaps in client-side CSPRNG coins, every
    other piece — channel design, inverse estimator, accounting — is the
    real mechanism). Plan: one codegen projection per row + one
    O(k)-cell groupBy; nothing but the k-row frame ever shuffles."""
    c = load(spark, sf_dir, "customer")
    cats = F.array(*[F.lit(x) for x in _RR_CATS])
    tpos = F.array_position(cats, F.col("c_mktsegment"))
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("rr-"), F.col("c_custkey").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    lie = 1 + (u - _RR_T) % (_RR_K - 1)
    rpos = F.when(u < _RR_T, tpos).otherwise(
        F.when(lie >= tpos, lie + 1).otherwise(lie)
    )
    reported = c.select(
        F.col("c_mktsegment").alias("truth"), rpos.alias("rpos")
    )
    cat_df = spark.range(1, _RR_K + 1).select(
        F.col("id").cast("int").alias("pos"),
        F.element_at(cats, F.col("id").cast("int")).alias("cat"),
    )
    obs = (
        cat_df.join(reported, cat_df["pos"] == reported["rpos"], "left")
        .groupBy("cat")
        .agg(F.count("rpos").cast("double").alias("c_obs"))
    )
    tru = reported.groupBy(F.col("truth").alias("cat")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    n = reported.agg(F.count(F.lit(1)).cast("double").alias("n"))
    est = (F.col("c_obs") - F.col("n") * _RR_Q) / (_RR_P - _RR_Q)
    return (
        obs.join(F.broadcast(tru), "cat", "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("cat").alias("segment"),
            F.coalesce(F.col("n_true"), F.lit(0)).alias("true_n"),
            F.col("c_obs").cast("long").alias("reported_n"),
            (F.round(est, 3) + 0.0).alias("est_n"),
            (
                F.round(
                    (est - F.coalesce(F.col("n_true"), F.lit(0)))
                    / F.coalesce(F.col("n_true"), F.lit(1)),
                    6,
                )
                + 0.0
            ).alias("rel_err"),
        )
        .orderBy("segment")
    )


_GS_SHARDS = 16  # shard-count literal; at 100 TB this is ~tokens/shard-size


@register(
    "pipeline_global_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                  ':epoch0')), 1, 15)) AS BIGINT) AS k
      FROM documents
    )
    SELECT doc_id, k % {_GS_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY k % {_GS_SHARDS}
                                   ORDER BY k, doc_id) AS INTEGER) AS pos
    FROM keyed
    """,
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle — the step between
    curation and the dataloader: every document gets a reshuffle-proof
    pseudo-random rank (md5 of doc_id + epoch salt), is routed to one of
    {_GS_SHARDS} shards by that key, and receives its position within the
    shard. Readers stream shards in pos order and see a reproducible
    epoch-0 permutation; changing the salt ('epoch1', ...) re-shuffles
    without any RNG state to checkpoint, and appends never perturb the
    relative order of existing docs within a shard. This is the standard
    hash-shuffle used by large-corpus training pipelines in place of a
    global ORDER BY random().

    Scale: ONE shuffle on the shard key, then a per-shard sort — i.e.
    exactly a shuffle-write of the training shards (at 100 TB the shard
    count literal becomes corpus_tokens / shard_size and each sorted
    shard streams straight to its output file; no global sort, no global
    window — the per-shard window IS the shard file's write order)."""
    d = load(spark, sf_dir, "documents")
    k = _h64(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0")))
    keyed = d.select("doc_id", k.alias("k"), F.pmod(k, F.lit(_GS_SHARDS)).alias("shard"))
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select("doc_id", "shard", F.row_number().over(w).alias("pos"))
