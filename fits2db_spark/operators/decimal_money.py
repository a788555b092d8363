"""DECIMAL-typed money arithmetic (round 9).

Closes the r8 verdict "Missing" item 2: the fixture money columns are
doubles with cent semantics (SURVEY.md §1.3), and the TPC-H keys work
around that with integer-cent FLOOR conventions (sql_api.py Q9 docstring
documents the hazard). A warehouse user loading real financial data
expects ``DecimalType`` end-to-end; these keys exercise that path — a
parquet round-trip that preserves the DECIMAL(15,2) logical type, an
exact decimal revenue aggregation, and a windowed decimal running
balance.

Exactness contract (what makes the oracle hash-stable): every stored
money value is an exact multiple of a cent, so ``CAST(double AS
DECIMAL(15,2))`` recovers the exact cent value in both engines — Spark
converts via the double's shortest decimal representation, DuckDB rounds
to nearest at scale 2, and no fixture value sits on a half-cent tie. All
downstream arithmetic stays in decimal: multiplication widens scale
(2+2→4, 4+2→6) without rounding, SUM widens precision without rounding,
and each final value is cast to one pinned DECIMAL(38,s) and then
rendered as VARCHAR on BOTH sides so the compared values carry identical
digits. Division is deliberately absent — decimal division scale rules
diverge across engines (Spark ``max(6, s1+p2+1)`` vs DuckDB
``max(s1, s2)``-family); ratios belong in double space after the exact
decimal sums.

Why the final VARCHAR (round 11): the external correctness harness
canonicalizes through pandas, where Spark yields ``Decimal('950112.70')``
but DuckDB renders DECIMAL columns as float64 ``950112.7`` — every value
whose last scale digit is 0 stringifies differently even though the two
are numerically identical (r10: ``agg_decimal_revenue`` 1/18 rows,
``win_decimal_balance`` 29/306 rows, ``decimal_roundtrip`` 0/9 by luck).
Both engines render a pinned-scale decimal to text identically
(``950112.70``, ``123.400000``, ``-5.00`` — verified), so the string is
the exact, engine-independent wire format. The arithmetic underneath is
still DecimalType end-to-end; only the comparison boundary is text.
``tests/test_decimal_money.py`` pins the no-DecimalType-in-final-schema
contract for every oracled query in the registry.

Scale posture: all three plans are single-exchange — a partial-aggregating
groupBy (revenue), a per-customer window over a pre-filtered key subset
(balance), and a scan→write→scan round-trip whose final aggregate is the
only shuffle. Decimal(≤18,2) is Tungsten-native (unscaled long in
UnsafeRow; wider sums use Int128), so every expression here stays inside
whole-stage codegen — there is no Python in any of these plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load, stage

# ---------------------------------------------------------------------------
# Parquet round-trip of a DECIMAL(15,2) column
# ---------------------------------------------------------------------------


@register(
    "decimal_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
           CAST(CAST(MIN(CAST(l_extendedprice AS DECIMAL(15,2)))
                     AS DECIMAL(15,2)) AS VARCHAR) AS min_price,
           CAST(CAST(MAX(CAST(l_extendedprice AS DECIMAL(15,2)))
                     AS DECIMAL(15,2)) AS VARCHAR) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def decimal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast ``l_extendedprice`` to DECIMAL(15,2), write it to parquet, read
    it back, and aggregate — proving the decimal logical type survives the
    storage round-trip (parquet FIXED_LEN_BYTE_ARRAY/INT64 decimal
    annotation, not a silent double downgrade).

    The read-back scan carries ``decimal(15,2)`` in its schema (asserted in
    tests/test_decimal_money.py), the SUM runs partial→final on exact
    unscaled integers, and the result is pinned to DECIMAL(38,2) on both
    engines. At 100 TB this is the standard money-column layout: decimal
    parquet pages dictionary- and delta-encode like any integer column,
    and min/max page stats on the unscaled value keep data skipping alive.
    """
    out = stage(
        spark,
        sf_dir,
        "lineitem_decimal",
        lambda p: load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(15,2)").alias("price"),
        )
        .write.mode("overwrite")
        .parquet(p),
    )
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("decimal(38,2)").cast("string").alias("sum_price"),
        F.min("price").cast("decimal(15,2)").cast("string").alias("min_price"),
        F.max("price").cast("decimal(15,2)").cast("string").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Exact decimal revenue aggregation (Q1's money math, decimal end-to-end)
# ---------------------------------------------------------------------------


@register(
    "agg_decimal_revenue",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS sum_base,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                         * CAST(1.00 - l_discount AS DECIMAL(5,2)))
                     AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                         * CAST(1.00 - l_discount AS DECIMAL(5,2))
                         * CAST(1.00 + l_tax AS DECIMAL(5,2)))
                     AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_decimal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1's money math carried in DecimalType end-to-end: base price,
    discounted price, and charge, each an EXACT decimal sum (no integer-
    cent FLOOR convention, no double drift).

    Scale arithmetic is rounding-free by construction: price(15,2) ×
    (1−disc)(5,2) → scale 4, × (1+tax)(5,2) → scale 6; both engines widen
    precision on multiply and sum without touching the digits, and the
    pinned DECIMAL(38,s) final casts only relabel. One partial-aggregating
    groupBy on a 6-ish-group key — the canonical map-side-combine plan; at
    100 TB the shuffle carries one row per (flag, status) per task.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(15,2)")
    disc = (F.lit(1.00) - F.col("l_discount")).cast("decimal(5,2)")
    tax = (F.lit(1.00) + F.col("l_tax")).cast("decimal(5,2)")
    return (
        li.select("l_returnflag", "l_linestatus", price.alias("p"), disc.alias("d"), tax.alias("t"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p").cast("decimal(38,2)").cast("string").alias("sum_base"),
            F.sum(F.col("p") * F.col("d"))
            .cast("decimal(38,4)")
            .cast("string")
            .alias("sum_disc_price"),
            F.sum(F.col("p") * F.col("d") * F.col("t"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Windowed decimal running balance
# ---------------------------------------------------------------------------


@register(
    "win_decimal_balance",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DECIMAL(38,2)) AS VARCHAR) AS balance
    FROM orders
    WHERE o_custkey % 50 = 0
    """,
)
def win_decimal_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running account balance as an exact decimal cumulative
    sum — the ledger pattern (statements, AR balances) where double drift
    compounds with history length and decimal is non-negotiable.

    The frame is ROWS-bounded over a unique (date, orderkey) ordering so
    both engines fold identical prefixes; sums of DECIMAL(15,2) stay exact
    at any history length (38 digits ≈ 10^36 cents of headroom). One
    exchange on ``o_custkey``; the ``% 50`` subset only bounds the fixture
    result — at scale the same plan runs on the full key space, and a
    bucketed-by-custkey layout elides even that exchange.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
        .over(w)
        .cast("decimal(38,2)")
        .cast("string")
        .alias("balance"),
    )
