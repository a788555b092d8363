"""UDF surface (SURVEY.md §2.U) — every Python-extension mechanism Spark
offers, each used where it is genuinely the right tool.

Performance doctrine (SURVEY.md §4): row-at-a-time Python UDFs exist for
API completeness but are the slow path (one entry, documented); everything
else is Arrow-vectorized (pandas_udf / applyInPandas / mapInArrow / UDTF).
At 100 TB, an Arrow batch pipeline keeps Python overhead at
~per-batch granularity instead of per-row."""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from ..registry import register
from ..tables import load


@register(
    "udf_python_scalar",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_class
    FROM customer
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — kept for parity; ~10-100x slower than the
    equivalent CASE expression (which agg/etl modules use everywhere else)."""

    def classify(bal: float) -> str:
        if bal < 0:
            return "debt"
        return "low" if bal < 5000 else "high"

    classify_udf = F.udf(classify, StringType())
    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", classify_udf("c_acctbal").alias("bal_class"))


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS vnorm
    FROM embeddings
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF: numpy L2 norm over the embedding column.
    Matches the JVM expression semantics (float -> double widening first)."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def l2norm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: float(np.sqrt(np.sum(np.asarray(v, dtype="float64") ** 2))))

    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.round(l2norm("embedding"), 6).alias("vnorm"))


@register(
    "udf_pandas_grouped_agg",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag, ROUND(AVG(v), 4) AS trimmed_mean
    FROM r
    WHERE rn > FLOOR(n * 0.1) AND rn <= n - FLOOR(n * 0.1)
    GROUP BY l_returnflag
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation (10% trimmed mean) as a GROUPED_AGG pandas UDF.
    The oracle reproduces the same sorted-slice definition with window
    functions."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def trimmed_mean(v: pd.Series) -> float:
        a = np.sort(v.to_numpy(dtype="float64"))
        k = int(math.floor(len(a) * 0.1))
        return float(np.mean(a[k : len(a) - k]))

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(trimmed_mean("l_extendedprice"), 4).alias("trimmed_mean")
    )


@register(
    "udf_grouped_map",
    oracle="""
    SELECT label, vec_id, rk,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0
    FROM (SELECT label, vec_id, embedding,
                 ROW_NUMBER() OVER (PARTITION BY label
                                    ORDER BY embedding[1] DESC, vec_id) AS rk
          FROM embeddings) t
    WHERE rk <= 3
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group DataFrame -> DataFrame via applyInPandas: top-3 vectors per
    label by first coordinate. Each group is one pandas frame — the pattern
    for per-key model scoring / normalization at scale (groups stream through
    executors, nothing collects to the driver)."""
    e = load(spark, sf_dir, "embeddings")

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.assign(e0=pdf["embedding"].map(lambda v: float(v[0])))
        pdf = pdf.sort_values(["e0", "vec_id"], ascending=[False, True]).head(3)
        pdf = pdf.assign(rk=range(1, len(pdf) + 1), e0=pdf["e0"].round(6))
        return pdf[["label", "vec_id", "rk", "e0"]]

    return e.groupBy("label").applyInPandas(
        top3, schema="label int, vec_id long, rk int, e0 double"
    )


@register(
    "udf_map_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_orderkey < 400
    """,
)
def udf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise Arrow batches via mapInArrow — the FITS-decode path's
    mechanism (SURVEY.md §2.A fits_ingest) demonstrated on a filter+compute:
    pyarrow compute kernels, zero row-at-a-time Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax", "l_returnflag"
    )

    def charge_batches(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            mask = pc.and_(
                pc.equal(t["l_returnflag"], "A"), pc.less(t["l_orderkey"], 400)
            )
            t = t.filter(mask)
            charge = pc.multiply(
                pc.multiply(
                    t["l_extendedprice"].combine_chunks(),
                    pc.subtract(pa.scalar(1.0), t["l_discount"].combine_chunks()),
                ),
                pc.add(pa.scalar(1.0), t["l_tax"].combine_chunks()),
            )
            out = pa.table(
                {
                    "l_orderkey": t["l_orderkey"],
                    "l_linenumber": t["l_linenumber"],
                    "charge_raw": charge,
                }
            )
            for ob in out.to_batches():
                yield ob

    mapped = li.mapInArrow(
        charge_batches, schema="l_orderkey long, l_linenumber int, charge_raw double"
    )
    # Round JVM-side (pyarrow round differs in the last ulp) and to >= 6
    # digits: the product of 2dp prices and 2dp rates has exactly 6 decimal
    # digits, so 6dp rounding never lands on a cross-engine half boundary
    return mapped.select(
        "l_orderkey", "l_linenumber", F.round("charge_raw", 6).alias("charge")
    )


@register(
    "udf_table_udtf",
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS INTEGER)
             AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 50
    """,
)
def udf_table_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row -> N output rows (tokenizer),
    consumed via LATERAL join. The oracle is the relational unnest."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i, tok

    spark.udtf.register("f2s_tokenize", Tokenize)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("f2s_docs_udtf")
    return spark.sql(
        "SELECT doc_id, t.pos, t.token FROM f2s_docs_udtf, LATERAL f2s_tokenize(text) t"
    )


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice * (1 + 0.07), 4) AS taxed
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`useArrow=True`, Spark 3.5+/4): the
    third Python-UDF execution mode next to pickled-row UDFs and pandas
    UDFs — per-row Python semantics but Arrow-batch transfer, so it
    avoids pickle without requiring vectorized pandas code. Still the slow
    path vs built-in expressions (the oracle IS the builtin equivalent);
    registered for §2.U API-surface parity, not for hot paths."""
    from pyspark.sql.types import DoubleType

    @F.udf(returnType=DoubleType(), useArrow=True)
    def add_tax(p: float) -> float:
        return round(p * 1.07, 4)

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select("o_orderkey", add_tax("o_totalprice").alias("taxed"))
