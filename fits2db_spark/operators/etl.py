"""Row-level ETL operators (SURVEY.md §2.B) — the reference's own surface.

fits2db's per-row conversions (name normalization, type casts, NaN/sentinel ->
NULL, array expansion, derived columns — SURVEY.md §1.1, §3.1) re-expressed as
Catalyst expressions: all stay inside whole-stage codegen, all pushdown-
friendly (a filter after these projections still reaches the parquet scan
because they are deterministic expressions, not UDFs).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import release
from ..tables import load

_SQL_RESERVED = {
    "select", "from", "where", "group", "order", "table", "user", "default",
    "primary", "key", "index", "column", "desc", "asc", "join", "union", "case",
}


def sql_safe_name(name: str) -> str:
    """Normalize a raw column name (e.g. a FITS TTYPEn value) to a SQL-safe
    identifier: lowercase, non-alnum -> underscore, leading digit prefixed,
    reserved words suffixed. Mirrors the reference's TTYPE normalization
    (SURVEY.md §2.B project_rename)."""
    n = re.sub(r"[^0-9a-zA-Z_]", "_", name.strip()).lower()
    n = re.sub(r"_+", "_", n).strip("_") or "col"
    if n[0].isdigit():
        n = "c_" + n
    if n in _SQL_RESERVED:
        n = n + "_"
    return n


def with_sql_safe_names(df: DataFrame) -> DataFrame:
    """Rename all columns to SQL-safe identifiers, de-duplicating collisions."""
    seen: dict[str, int] = {}
    out = []
    for c in df.columns:
        n = sql_safe_name(c)
        if n in seen:
            seen[n] += 1
            n = f"{n}_{seen[n]}"
        else:
            seen[n] = 0
        out.append(n)
    return df.toDF(*out)


@register(
    "project_rename",
    oracle="""
    SELECT l_orderkey AS order_key, l_linenumber AS line_no,
           l_returnflag AS flag, ROUND(l_extendedprice, 2) AS price
    FROM lineitem WHERE l_linenumber <= 2
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_returnflag").alias("flag"),
        F.round("l_extendedprice", 2).alias("price"),
    )


@register(
    "cast_types",
    oracle="""
    SELECT CAST(l_orderkey AS INTEGER)        AS okey_i32,
           CAST(l_linenumber AS BIGINT)       AS line_i64,
           CAST(TRUNC(l_quantity) AS INTEGER) AS qty_int,
           CAST(l_returnflag AS VARCHAR)      AS flag_str,
           CAST(l_shipdate AS DATE)           AS ship_day
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit type coercion per the §1.2 FITS->Spark->SQL map. Spark casts
    double->int by truncation; DuckDB CAST rounds, so the oracle TRUNCs first."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        F.col("l_orderkey").cast("int").alias("okey_i32"),
        F.col("l_linenumber").cast("long").alias("line_i64"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_returnflag").cast("string").alias("flag_str"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
    )


@register(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE (l_returnflag IN ('A', 'R') OR l_linestatus LIKE 'O%')
      AND l_quantity BETWEEN 10 AND 40
      AND NOT (l_discount > 0.08)
      AND l_shipdate IS NOT NULL
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates (AND/OR/NOT/IN/BETWEEN/LIKE/IS NULL). All push to
    the parquet scan as data filters (verified in plan tests)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag").isin("A", "R") | F.col("l_linestatus").like("O%"))
        & F.col("l_quantity").between(10, 40)
        & ~(F.col("l_discount") > 0.08)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "nan_to_null",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 25 THEN NULL ELSE l_quantity END AS qty_clean,
           COALESCE(CASE WHEN l_discount > 0.05 THEN NULL ELSE l_discount END, -1.0)
             AS disc_filled
    FROM lineitem WHERE l_orderkey < 300
    """,
)
def nan_to_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's numeric-missing handling (FITS has no numeric NULL;
    NaN / TNULL sentinels map to SQL NULL — SURVEY.md §1.1). We manufacture
    NaN/Inf deterministically, then scrub: NaN -> NULL via nanvl-style
    replacement, and demonstrate sentinel fill."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    qty_nan = F.when(F.col("l_quantity") > 25, F.lit(float("nan"))).otherwise(
        F.col("l_quantity")
    )
    qty_clean = F.when(F.isnan(qty_nan), F.lit(None)).otherwise(qty_nan)
    disc_inf = F.when(F.col("l_discount") > 0.05, F.lit(float("inf"))).otherwise(
        F.col("l_discount")
    )
    disc_null = F.when(disc_inf.isin(float("inf"), float("-inf")), F.lit(None)).otherwise(
        disc_inf
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qty_clean.alias("qty_clean"),
        F.coalesce(disc_null, F.lit(-1.0)).alias("disc_filled"),
    )


@register(
    "null_default",
    oracle="""
    SELECT c_custkey,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE ROUND(c_acctbal, 2) END, 0.0)
             AS bal_or_zero,
           COALESCE(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END,
                    'UNKNOWN') AS seg_or_unknown
    FROM customer
    """,
)
def null_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel -> NULL -> default fill via DataFrameNaFunctions (df.na.fill)."""
    c = load(spark, sf_dir, "customer")
    nulled = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.round("c_acctbal", 2))
        .alias("bal_or_zero"),
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_or_unknown"),
    )
    return nulled.na.fill({"bal_or_zero": 0.0, "seg_or_unknown": "UNKNOWN"})


def add_random_id_rng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.rand``-based random_id — module function only: a seeded Spark
    RNG stream is stable across runs of the same plan but not
    engine-reproducible (and not stable under repartitioning)."""
    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", F.rand(seed=42).alias("random_id"))


@register(
    "add_random_id",
    oracle="""
    SELECT c_custkey,
           CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                     AS BIGINT) AS DOUBLE) / 1152921504606846976 AS random_id
    FROM customer
    """,
)
def add_random_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform random_id in [0,1) for repeatable subsampling — the Data Lab
    load-time convention (SURVEY.md §1.1), made engine-reproducible: the id
    is md5(key)'s top 60 bits scaled by 2^-60, a pure function of the row
    key. Identical across runs, engines, and partitionings (unlike a seeded
    ``F.rand``, which is plan-layout-dependent — that variant remains as
    ``add_random_id_rng``). The long->double conversion rounds once under
    IEEE nearest-even on both engines and the 2^-60 scale is a power of
    two, so the float compare is exact."""
    from .llm_text import _h64

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        (_h64(F.col("c_custkey").cast("string")).cast("double")
         / F.lit(float(1 << 60))).alias("random_id"),
    )


@register(
    "add_rowid",
    oracle="""
    SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def add_rowid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate row id over an explicit total order, built with the
    zipWithIndex-style partition-offset pattern instead of a global
    ``Window.orderBy`` (which funnels the whole table through ONE task —
    the round-1 scale flag):

    1. range-partition by the order key (parallel sort, each partition holds
       a contiguous key range);
    2. local ``row_number`` within each partition;
    3. per-partition counts -> running-sum offsets (a window over at most
       ``shuffle.partitions`` rows — driver-scale, not data-scale);
    4. broadcast-join offsets back: ``row_id = local_rn + offset``.

    Every data-scale stage is parallel; the only single-partition window
    touches one row per partition. The unordered scale path is
    ``monotonically_increasing_id`` (add_rowid_unordered, rows-only).
    Requires a unique order key (o_orderkey is the PK) — with ties, rank
    assignment across range boundaries would be engine-arbitrary anyway."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    ranged = o.repartitionByRange("o_orderkey").select(
        "o_orderkey", F.spark_partition_id().alias("pid")
    )
    local = ranged.select(
        "o_orderkey",
        "pid",
        F.row_number().over(Window.partitionBy("pid").orderBy("o_orderkey")).alias("local_rn"),
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"))
    )
    return local.join(F.broadcast(offsets), "pid").select(
        "o_orderkey", (F.col("local_rn") + F.col("off")).cast("int").alias("row_id")
    )


@register("add_rowid_unordered")  # rows-only: block-allocated ids are Spark-specific
def add_rowid_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", F.monotonically_increasing_id().alias("row_id"))


@register(
    "array_expand",
    oracle="""
    SELECT vec_id,
           embedding[1] AS e0, embedding[2] AS e1,
           embedding[3] AS e2, embedding[4] AS e3,
           CAST(len(embedding) AS INTEGER) AS dim
    FROM embeddings WHERE vec_id < 100
    """,
)
def array_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length array column -> scalar columns col_0..col_n — fits2db's
    array-column expansion (TFORM repeat counts, SURVEY.md §1.2)."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        *[F.col("embedding")[i].alias(f"e{i}") for i in range(4)],
        F.size("embedding").alias("dim"),
    )


@register("spatial_cols")  # rows-only: no HEALPix/HTM in DuckDB
def spatial_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived spatial-index columns from (ra, dec): HEALPix ring256 /
    nest4096 pixel ids + HTM level-9 trixel id + seeded random_id — the
    reference's Data Lab load-time convention (SURVEY.md §1.1). The fixture
    tables carry no sky coordinates, so deterministic pseudo ra/dec are
    derived from c_custkey (golden-angle spiral: uniform-ish sky coverage).
    Pixel math is vectorized numpy behind Arrow-batched pandas UDFs."""
    import pandas as pd
    from pyspark.sql.types import LongType

    from ..functions.spatial import ang2pix_nest, ang2pix_ring, radec_to_htm

    # no type hints on the UDF callables: `from __future__ import annotations`
    # turns them into strings PySpark's hint-based inference cannot resolve
    @F.pandas_udf(LongType())
    def ring256(ra, dec):
        return pd.Series(ang2pix_ring(256, ra.to_numpy(), dec.to_numpy()))

    @F.pandas_udf(LongType())
    def nest4096(ra, dec):
        return pd.Series(ang2pix_nest(4096, ra.to_numpy(), dec.to_numpy()))

    @F.pandas_udf(LongType())
    def htm9(ra, dec):
        return pd.Series(radec_to_htm(9, ra.to_numpy(), dec.to_numpy()))

    c = load(spark, sf_dir, "customer")
    ra = (F.col("c_custkey") * 137.50776405) % 360.0
    dec = F.degrees(F.asin(((F.col("c_custkey") * 0.6180339887) % 1.0) * 2 - 1))
    base = c.select("c_custkey", ra.alias("ra"), dec.alias("dec"))
    return base.select(
        "c_custkey",
        F.round("ra", 8).alias("ra"),
        F.round("dec", 8).alias("dec"),
        ring256("ra", "dec").alias("ring256"),
        nest4096("ra", "dec").alias("nest4096"),
        htm9("ra", "dec").alias("htm9"),
        F.rand(seed=42).alias("random_id"),
    )


def _interleave_sql(x: str, y: str, bits: int) -> str:
    """DuckDB SQL fragment: interleave ``bits`` low bits of x (even positions)
    and y (odd positions) — the HEALPix xy->nested-index bit spread."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _interleave_col(x, y, bits: int):
    """Spark Column twin of :func:`_interleave_sql` (same bit convention as
    functions/spatial.py:_spread_bits: x on even bits, y on odd)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


_NEST_NSIDE = 4096  # 2^12 -> 12 interleave bits, matches spatial_cols' nest4096


@register(
    "spatial_nest",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             ((CAST(c_custkey AS DOUBLE) * 0.6180339887) % 1.0) * 2 - 1 AS z,
             ((CAST(c_custkey AS DOUBLE) * 137.50776405) % 360.0) / 90.0 AS tt
      FROM customer
    ),
    eqn AS (
      SELECT c_custkey, z, tt, ABS(z) AS za,
             CAST(FLOOR({_NEST_NSIDE} * (0.5 + tt) - {_NEST_NSIDE} * z * 0.75)
                  AS BIGINT) AS jp_eq,
             CAST(FLOOR({_NEST_NSIDE} * (0.5 + tt) + {_NEST_NSIDE} * z * 0.75)
                  AS BIGINT) AS jm_eq,
             LEAST(CAST(FLOOR(tt) AS BIGINT), 3) AS ntt,
             {_NEST_NSIDE} * SQRT(3.0 * (1.0 - ABS(z))) AS tmp
      FROM base
    ),
    fxy AS (
      SELECT c_custkey, za,
        CASE WHEN za <= 2.0/3.0 THEN
          CASE WHEN (jp_eq >> 12) = (jm_eq >> 12) THEN ((jp_eq >> 12) & 3) + 4
               WHEN (jp_eq >> 12) < (jm_eq >> 12) THEN (jp_eq >> 12) & 3
               ELSE ((jm_eq >> 12) & 3) + 8 END
        WHEN z >= 0 THEN ntt ELSE ntt + 8 END AS face,
        CASE WHEN za <= 2.0/3.0 THEN jm_eq & {_NEST_NSIDE - 1}
             WHEN z >= 0 THEN {_NEST_NSIDE} - LEAST(CAST(FLOOR((1.0 - (tt - ntt)) * tmp) AS BIGINT), {_NEST_NSIDE - 1}) - 1
             ELSE LEAST(CAST(FLOOR((tt - ntt) * tmp) AS BIGINT), {_NEST_NSIDE - 1}) END AS ix,
        CASE WHEN za <= 2.0/3.0 THEN {_NEST_NSIDE} - (jp_eq & {_NEST_NSIDE - 1}) - 1
             WHEN z >= 0 THEN {_NEST_NSIDE} - LEAST(CAST(FLOOR((tt - ntt) * tmp) AS BIGINT), {_NEST_NSIDE - 1}) - 1
             ELSE LEAST(CAST(FLOOR((1.0 - (tt - ntt)) * tmp) AS BIGINT), {_NEST_NSIDE - 1}) END AS iy
      FROM eqn
    )
    SELECT c_custkey, face,
           face * {_NEST_NSIDE * _NEST_NSIDE} + ({_interleave_sql('ix', 'iy', 12)})
             AS nest4096
    FROM fxy
    """,
)
def spatial_nest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALPix nested-scheme pixel id (nside=4096) computed entirely with
    Catalyst expressions — no Python on the data path, unlike the pandas-UDF
    `spatial_cols` variant it cross-validates (tests/test_spatial_nest.py
    asserts both agree row-for-row with functions/spatial.py:ang2pix_nest).

    The fixture's golden-angle pseudo-sky makes the whole pipeline
    trig-free and therefore bit-reproducible across engines: the spiral sets
    dec = degrees(asin(u)), and HEALPix needs z = sin(radians(dec)) = u
    exactly; likewise tt = (ra/90) mod 4 needs no radians conversion. The
    remaining math is *, %, floor, abs and IEEE-exact sqrt, so the DuckDB
    oracle running the same formulas produces identical doubles and
    identical floors (Gorski et al. 2005 ang2pix_nest, both regions).

    Scale: a narrow deterministic projection inside whole-stage codegen —
    this is the load-time derived-column path for a 100 TB catalog; the
    pixel id then drives partition pruning for cone searches (see
    `cone_search`, joins.py)."""
    nside = _NEST_NSIDE
    c = load(spark, sf_dir, "customer")
    z = ((F.col("c_custkey") * 0.6180339887) % 1.0) * 2 - 1
    tt = ((F.col("c_custkey") * 137.50776405) % 360.0) / 90.0
    base = c.select("c_custkey", z.alias("z"), tt.alias("tt"))
    za = F.abs(F.col("z"))
    jp_eq = F.floor(nside * (0.5 + F.col("tt")) - nside * F.col("z") * 0.75)
    jm_eq = F.floor(nside * (0.5 + F.col("tt")) + nside * F.col("z") * 0.75)
    ntt = F.least(F.floor("tt").cast("long"), F.lit(3))
    tp = F.col("tt") - ntt
    tmp = nside * F.sqrt(3.0 * (1.0 - za))
    jp_po = F.least(F.floor(tp * tmp).cast("long"), F.lit(nside - 1))
    jm_po = F.least(F.floor((1.0 - tp) * tmp).cast("long"), F.lit(nside - 1))
    ifp, ifm = F.shiftright(jp_eq, 12), F.shiftright(jm_eq, 12)
    eq = za <= 2.0 / 3.0
    north = F.col("z") >= 0
    face = F.when(
        eq,
        F.when(ifp == ifm, ifp.bitwiseAND(F.lit(3)) + 4)
        .when(ifp < ifm, ifp.bitwiseAND(F.lit(3)))
        .otherwise(ifm.bitwiseAND(F.lit(3)) + 8),
    ).otherwise(F.when(north, ntt).otherwise(ntt + 8))
    ix = (
        F.when(eq, jm_eq.bitwiseAND(F.lit(nside - 1)))
        .when(north, nside - jm_po - 1)
        .otherwise(jp_po)
    )
    iy = (
        F.when(eq, nside - jp_eq.bitwiseAND(F.lit(nside - 1)) - 1)
        .when(north, nside - jp_po - 1)
        .otherwise(jm_po)
    )
    staged = base.select(
        "c_custkey", face.alias("face"), ix.alias("ix"), iy.alias("iy")
    )
    return staged.select(
        "c_custkey",
        "face",
        (
            F.col("face") * (nside * nside)
            + _interleave_col(F.col("ix"), F.col("iy"), 12)
        ).alias("nest4096"),
    )


_RING_NSIDE = 256  # matches spatial_cols' ring256 column


@register(
    "spatial_ring",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             ((CAST(c_custkey AS DOUBLE) * 0.6180339887) % 1.0) * 2 - 1 AS z,
             ((CAST(c_custkey AS DOUBLE) * 137.50776405) % 360.0) / 90.0 AS tt
      FROM customer
    ),
    eqn AS (
      SELECT c_custkey, z, tt, ABS(z) AS za,
             CAST(FLOOR({_RING_NSIDE} * (0.5 + tt) - {_RING_NSIDE} * z * 0.75)
                  AS BIGINT) AS jp_eq,
             CAST(FLOOR({_RING_NSIDE} * (0.5 + tt) + {_RING_NSIDE} * z * 0.75)
                  AS BIGINT) AS jm_eq,
             tt - FLOOR(tt) AS tp,
             {_RING_NSIDE} * SQRT(3.0 * (1.0 - ABS(z))) AS tmp
      FROM base
    ),
    rings AS (
      SELECT c_custkey, z, tt, za, jp_eq, jm_eq,
             {_RING_NSIDE} + 1 + jp_eq - jm_eq AS ir_eq,
             CAST(FLOOR(tp * tmp) AS BIGINT)
               + CAST(FLOOR((1.0 - tp) * tmp) AS BIGINT) + 1 AS ir_po
      FROM eqn
    )
    SELECT c_custkey,
      CASE WHEN za <= 2.0/3.0 THEN
        2 * {_RING_NSIDE} * ({_RING_NSIDE} - 1)
          + (ir_eq - 1) * 4 * {_RING_NSIDE}
          + (((((jp_eq + jm_eq - {_RING_NSIDE} + (1 - (ir_eq & 1)) + 1) >> 1)
               % (4 * {_RING_NSIDE})) + 4 * {_RING_NSIDE}) % (4 * {_RING_NSIDE}))
      WHEN z > 0 THEN
        2 * ir_po * (ir_po - 1)
          + (CAST(FLOOR(tt * ir_po) AS BIGINT) % (4 * ir_po))
      ELSE
        12 * {_RING_NSIDE} * {_RING_NSIDE} - 2 * ir_po * (ir_po + 1)
          + (CAST(FLOOR(tt * ir_po) AS BIGINT) % (4 * ir_po))
      END AS ring256
    FROM rings
    """,
)
def spatial_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALPix ring-scheme pixel id (nside=256) computed entirely with
    Catalyst expressions — the r7 sibling of `spatial_nest`, shrinking the
    rows-only surface: `spatial_cols`' pandas-UDF ring256 column now has a
    fully SQL-oracled, cross-validated twin
    (tests/test_spatial_nest.py::test_spatial_ring_matches_numpy_and_udf).

    Same trig-free trick as `spatial_nest`: the golden-angle fixture sky
    sets dec = degrees(asin(u)) so HEALPix's z = sin(radians(dec)) = u
    exactly, and tt = (ra/90) mod 4 needs no radians conversion; the rest
    is *, %, floor, abs and IEEE-exact sqrt, bit-reproducible across
    engines (Gorski et al. 2005 ang2pix_ring, equatorial belt + polar
    caps; ring ip derived as (jp+jm-nside+kshift+1)>>1 mod 4*nside).

    Scale: narrow whole-stage-codegen projection, zero shuffles — the
    ring id is the classic load-time zonal partition key for all-sky
    catalogs (ring number == iso-latitude band, so a dec-range scan prunes
    contiguous ring intervals)."""
    nside = _RING_NSIDE
    c = load(spark, sf_dir, "customer")
    z = ((F.col("c_custkey") * 0.6180339887) % 1.0) * 2 - 1
    tt = ((F.col("c_custkey") * 137.50776405) % 360.0) / 90.0
    base = c.select("c_custkey", z.alias("z"), tt.alias("tt"))
    za = F.abs(F.col("z"))
    jp_eq = F.floor(nside * (0.5 + F.col("tt")) - nside * F.col("z") * 0.75)
    jm_eq = F.floor(nside * (0.5 + F.col("tt")) + nside * F.col("z") * 0.75)
    tp = F.col("tt") - F.floor("tt")
    tmp = nside * F.sqrt(3.0 * (1.0 - za))
    ir_eq = nside + 1 + jp_eq - jm_eq
    ir_po = F.floor(tp * tmp) + F.floor((1.0 - tp) * tmp) + 1
    staged = base.select(
        "c_custkey",
        "z",
        "tt",
        za.alias("za"),
        jp_eq.alias("jp_eq"),
        jm_eq.alias("jm_eq"),
        ir_eq.alias("ir_eq"),
        ir_po.alias("ir_po"),
    )
    kshift = 1 - F.col("ir_eq").bitwiseAND(F.lit(1))
    # HEALPix's ip modulus is non-negative by definition, but both Spark's
    # and DuckDB's % are sign-preserving and (jp+jm-nside+kshift+1)>>1 can be
    # -1 when both floors lose a unit — use pmod / double-% so a boundary
    # point lands at 4*nside-1 instead of below the belt offset (r8 ADVICE).
    ip_eq = F.pmod(
        F.shiftright(F.col("jp_eq") + F.col("jm_eq") - nside + kshift + 1, 1),
        F.lit(4 * nside),
    )
    ip_po = F.floor(F.col("tt") * F.col("ir_po")).cast("long") % (4 * F.col("ir_po"))
    pix = (
        F.when(
            F.col("za") <= 2.0 / 3.0,
            2 * nside * (nside - 1) + (F.col("ir_eq") - 1) * 4 * nside + ip_eq,
        )
        .when(
            F.col("z") > 0,
            2 * F.col("ir_po") * (F.col("ir_po") - 1) + ip_po,
        )
        .otherwise(
            12 * nside * nside - 2 * F.col("ir_po") * (F.col("ir_po") + 1) + ip_po
        )
    )
    return staged.select("c_custkey", pix.alias("ring256"))


@register(
    "etl_winsorize",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE l.l_extendedprice < q.lo) AS BIGINT)
             AS n_clipped_low,
           CAST(COUNT(*) FILTER (WHERE l.l_extendedprice > q.hi) AS BIGINT)
             AS n_clipped_high,
           ROUND(AVG(l.l_extendedprice), 4) AS avg_raw,
           ROUND(AVG(least(greatest(l.l_extendedprice, q.lo), q.hi)), 4)
             AS avg_winsorized
    FROM lineitem l JOIN q USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp a numeric column to its per-group [p01, p99]
    band — the standard outlier-robust preprocessing for features and
    label columns before training (vs dropping rows, which biases counts).
    Reports clip counts and the mean before/after.

    Scale: one exact-percentile aggregate producing an O(groups) table
    that broadcasts back onto the fact scan (the anomaly_mad shape); the
    clamp itself is a narrow map. At 100 TB swap the exact percentile for
    approx_percentile — the clamp bounds only move by sketch error."""
    li = load(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("hi"),
    )
    x = F.col("l_extendedprice")
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(x < F.col("lo"), 1).otherwise(0)).cast("long").alias("n_clipped_low"),
            F.sum(F.when(x > F.col("hi"), 1).otherwise(0)).cast("long").alias("n_clipped_high"),
            F.round(F.avg(x), 4).alias("avg_raw"),
            F.round(F.avg(F.least(F.greatest(x, F.col("lo")), F.col("hi"))), 4).alias(
                "avg_winsorized"
            ),
        )
    )


_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"  # public geohash base32
_GH_CHARS = 6  # 30 bits -> 6 chars, ~±0.61 km cells


@register(
    "spatial_geohash",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             ((CAST(c_custkey AS DOUBLE) * 137.50776405) % 360.0) - 180.0 AS lon,
             (((CAST(c_custkey AS DOUBLE) * 0.6180339887) % 1.0) * 2 - 1) * 90.0
               AS lat
      FROM customer
    ),
    idx AS (
      SELECT c_custkey, lon, lat,
             LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * 32768.0) AS BIGINT), 32767)
               AS lon_idx,
             LEAST(CAST(FLOOR((lat + 90.0) / 180.0 * 32768.0) AS BIGINT), 32767)
               AS lat_idx
      FROM base
    ),
    coded AS (
      SELECT c_custkey, ROUND(lon, 8) AS lon, ROUND(lat, 8) AS lat,
             ({_interleave_sql('lat_idx', 'lon_idx', 15)}) AS cell
      FROM idx
    )
    SELECT c_custkey, lon, lat, cell,
           {" || ".join(f"substr('{_GH_ALPHABET}', CAST(((cell >> {25 - 5 * i}) & 31) AS INT) + 1, 1)" for i in range(_GH_CHARS))}
             AS geohash6
    FROM coded
    """,
)
def spatial_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding (public base32 scheme: interleave lon/lat bits MSB
    first, lon leading, 5 bits per character) at 6-character precision —
    the prefix-joinable spatial bucket key web-scale geo pipelines
    partition on (shared prefix <=> shared cell, so proximity joins
    become prefix equi-joins). Entirely Catalyst bit arithmetic; the
    same interleave helper as `spatial_nest`.

    The 30-bit cell id IS the Morton code of (lat_idx, lon_idx) with lon
    on odd bits — highest lon bit at position 29 = the geohash's first
    bit, matching the published bit order. As with spatial_nest, the
    fixture pseudo-sky is chosen trig-free (lat = u*90 rather than the
    golden-spiral asin) so every double is bit-reproducible in DuckDB
    and floors cannot straddle engine ulps."""
    c = load(spark, sf_dir, "customer")
    lon = ((F.col("c_custkey") * 137.50776405) % 360.0) - 180.0
    lat = (((F.col("c_custkey") * 0.6180339887) % 1.0) * 2 - 1) * 90.0
    idx = c.select(
        "c_custkey",
        lon.alias("lon"),
        lat.alias("lat"),
        F.least(
            F.floor((lon + 180.0) / 360.0 * 32768.0).cast("long"), F.lit(32767)
        ).alias("lon_idx"),
        F.least(
            F.floor((lat + 90.0) / 180.0 * 32768.0).cast("long"), F.lit(32767)
        ).alias("lat_idx"),
    )
    coded = idx.select(
        "c_custkey",
        F.round("lon", 8).alias("lon"),
        F.round("lat", 8).alias("lat"),
        _interleave_col(F.col("lat_idx"), F.col("lon_idx"), 15).alias("cell"),
    )
    gh = F.concat(
        *[
            F.expr(
                f"substr('{_GH_ALPHABET}',"
                f" CAST(((cell >> {25 - 5 * i}) & 31) AS INT) + 1, 1)"
            )
            for i in range(_GH_CHARS)
        ]
    )
    return coded.select("c_custkey", "lon", "lat", "cell", gh.alias("geohash6"))


# polygon for the point-in-polygon demo: an irregular hexagon over the
# pseudo-sky (lon, lat) plane — vertices chosen off any fixture point
_PIP_POLY = (
    (-120.0, -40.0), (-30.0, -70.0), (60.0, -35.0),
    (110.0, 30.0), (20.0, 65.0), (-90.0, 45.0),
)


def _pip_crossing_sql(lon: str, lat: str) -> str:
    """DuckDB ray-casting parity: count edges crossing the +lon ray."""
    terms = []
    n = len(_PIP_POLY)
    for i in range(n):
        x1, y1 = _PIP_POLY[i]
        x2, y2 = _PIP_POLY[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1} > {lat}) <> ({y2} > {lat}))"
            f" AND ({lon} < {x1} + ({x2} - {x1}) * ({lat} - {y1}) / ({y2} - {y1}))"
            f" THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def _pip_crossing_col(lon, lat):
    """Spark Column twin of :func:`_pip_crossing_sql` (same edge order and
    arithmetic, so the parity is computed over identical doubles)."""
    total = F.lit(0)
    n = len(_PIP_POLY)
    for i in range(n):
        x1, y1 = _PIP_POLY[i]
        x2, y2 = _PIP_POLY[(i + 1) % n]
        crosses = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
            lon < x1 + (x2 - x1) * (lat - y1) / (y2 - y1)
        )
        total = total + crosses.cast("int")
    return total % 2 == 1


@register(
    "spatial_point_in_polygon",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             ((CAST(c_custkey AS DOUBLE) * 137.50776405) % 360.0) - 180.0 AS lon,
             (((CAST(c_custkey AS DOUBLE) * 0.6180339887) % 1.0) * 2 - 1) * 90.0
               AS lat
      FROM customer
    )
    SELECT c_custkey, ROUND(lon, 8) AS lon, ROUND(lat, 8) AS lat,
           {_pip_crossing_sql('lon', 'lat')} AS inside
    FROM base
    """,
)
def spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment via ray casting (the even-odd rule:
    count polygon edges crossed by the +longitude ray; odd parity =
    inside) against a fixed hexagonal region — the GIS filter primitive
    behind geofencing and region-tagging, complementing the geohash
    bucket ops. The edge tests unroll to a branch-free CASE sum inside
    whole-stage codegen; both engines evaluate the identical edge
    arithmetic on identical doubles, so the parity is engine-exact
    (fixture points are irrational multiples — never ON an edge). At
    100 TB this is a narrow map, and the standard composition is
    geohash-prefilter (cells intersecting the polygon's bbox) + this
    exact test — the same band-then-verify shape as `join_geohash_prefix`."""
    c = load(spark, sf_dir, "customer")
    lon = ((F.col("c_custkey").cast("double") * 137.50776405) % 360.0) - 180.0
    lat = (((F.col("c_custkey").cast("double") * 0.6180339887) % 1.0) * 2 - 1) * 90.0
    base = c.select("c_custkey", lon.alias("lon"), lat.alias("lat"))
    return base.select(
        "c_custkey",
        F.round("lon", 8).alias("lon"),
        F.round("lat", 8).alias("lat"),
        _pip_crossing_col(F.col("lon"), F.col("lat")).alias("inside"),
    )


# ---------------------------------------------------------------------------
# Multi-polygon geofence assignment (round 7)
# ---------------------------------------------------------------------------
# Three disjoint regions (no horizontal edges, so every edge's crossing
# division is well-defined); vertices are exact binary doubles or simple
# decimals shared verbatim by both engines.
_REGIONS = (
    (1, ((-120.0, -10.0), (-80.0, 40.0), (-40.0, -20.0))),
    (2, ((0.0, -30.0), (30.0, 10.0), (60.0, -10.0), (30.0, -50.0))),
    (3, ((80.0, 20.0), (110.0, 60.0), (140.0, 30.0), (130.0, -5.0), (95.0, -10.0))),
)


def _poly_crossing_sql(poly, lon: str, lat: str) -> str:
    terms = []
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1} > {lat}) <> ({y2} > {lat}))"
            f" AND ({lon} < {x1} + ({x2} - {x1}) * ({lat} - {y1}) / ({y2} - {y1}))"
            f" THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def _poly_crossing_col(poly, lon, lat):
    total = F.lit(0)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        crosses = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
            lon < x1 + (x2 - x1) * (lat - y1) / (y2 - y1)
        )
        total = total + crosses.cast("int")
    return total % 2 == 1


def _bbox(poly):
    xs, ys = [p[0] for p in poly], [p[1] for p in poly]
    return min(xs), max(xs), min(ys), max(ys)


def _region_case_sql(lon: str, lat: str) -> str:
    whens = []
    for rid, poly in _REGIONS:
        x0, x1, y0, y1 = _bbox(poly)
        whens.append(
            f"WHEN {lon} BETWEEN {x0} AND {x1} AND {lat} BETWEEN {y0} AND {y1}"
            f" AND {_poly_crossing_sql(poly, lon, lat)} THEN {rid}"
        )
    return "CASE " + " ".join(whens) + " ELSE 0 END"


@register(
    "spatial_region_assign",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             ((CAST(c_custkey AS DOUBLE) * 137.50776405) % 360.0) - 180.0 AS lon,
             (((CAST(c_custkey AS DOUBLE) * 0.6180339887) % 1.0) * 2 - 1) * 90.0
               AS lat
      FROM customer
    )
    SELECT c_custkey, CAST({_region_case_sql("lon", "lat")} AS INT) AS region_id
    FROM pts
    """,
)
def spatial_region_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-polygon geofence assignment — the spatial-JOIN workhorse of
    fleet/geo analytics: every point is assigned the region containing it
    (0 if none) from a catalog of polygons, with each polygon's BOUNDING
    BOX checked before the exact ray-cast — exactly the prune a spatial
    index (R-tree / geohash cells, `join_geohash_prefix` here) performs,
    expressed as a short-circuit so the expensive edge tests run only on
    bbox survivors.

    Cross-engine exactness is unconditional (unlike the trig operators):
    the containment test is only +,-,*,/ and comparisons over identically
    derived doubles, all IEEE-deterministic, so both engines agree even
    for points arbitrarily close to an edge. Scale: a narrow codegen
    projection at any polygon-catalog size that fits a broadcast; beyond
    that the geohash-cell join takes over (cell -> candidate polygons,
    then this exact test)."""
    c = load(spark, sf_dir, "customer")
    lon = ((F.col("c_custkey").cast("double") * 137.50776405) % 360.0) - 180.0
    lat = (((F.col("c_custkey").cast("double") * 0.6180339887) % 1.0) * 2 - 1) * 90.0
    pts = c.select("c_custkey", lon.alias("lon"), lat.alias("lat"))
    assigned = F.lit(None).cast("int")
    # build the CASE back-to-front so region 1 wins ties (disjoint anyway)
    for rid, poly in reversed(_REGIONS):
        x0, x1, y0, y1 = _bbox(poly)
        in_bbox = (
            F.col("lon").between(x0, x1) & F.col("lat").between(y0, y1)
        )
        assigned = F.when(
            in_bbox & _poly_crossing_col(poly, F.col("lon"), F.col("lat")),
            F.lit(rid),
        ).otherwise(assigned)
    return pts.select(
        "c_custkey", F.coalesce(assigned, F.lit(0)).cast("int").alias("region_id")
    )


# ---------------------------------------------------------------------------
# HTM level-9 trixel id in pure Catalyst (round 8)
# ---------------------------------------------------------------------------
_HTM_LEVEL = 9
_HTM_EPS = "-1e-12"

# public HTM start triangles: (root id, corner vertex indexes) over the six
# axis unit vectors [N pole, +x, +y, -x, -y, S pole] — mirrors
# functions/spatial.py:_HTM_ROOTS exactly
_HTM_AXIS = (
    ("0.0e0", "0.0e0", "1.0e0"),
    ("1.0e0", "0.0e0", "0.0e0"),
    ("0.0e0", "1.0e0", "0.0e0"),
    ("-1.0e0", "0.0e0", "0.0e0"),
    ("0.0e0", "-1.0e0", "0.0e0"),
    ("0.0e0", "0.0e0", "-1.0e0"),
)
_HTM_ROOT_DEFS = (
    (8, (1, 5, 2)),
    (9, (2, 5, 3)),
    (10, (3, 5, 4)),
    (11, (4, 5, 1)),
    (12, (1, 0, 4)),
    (13, (4, 0, 3)),
    (14, (3, 0, 2)),
    (15, (2, 0, 1)),
)


def _htm_cross(a, b):
    ax, ay, az = a
    bx, by, bz = b
    return (
        f"({ay}*{bz} - {az}*{by})",
        f"({az}*{bx} - {ax}*{bz})",
        f"({ax}*{by} - {ay}*{bx})",
    )


def _htm_edge(a, b):
    cx, cy, cz = _htm_cross(a, b)
    return f"({cx}*px + {cy}*py + {cz}*pz >= {_HTM_EPS})"


def _htm_inside(a, b, c):
    return f"({_htm_edge(a, b)} AND {_htm_edge(b, c)} AND {_htm_edge(c, a)})"


def _v(name):
    return (f"{name}x", f"{name}y", f"{name}z")


def _htm_level_selects() -> list[list[str]]:
    """Per level, the four chained projections (midpoint norms; midpoints;
    containment + child; id/vertex update), each as a list of 'expr AS col'
    strings applied over the previous projection's columns. The SAME text
    drives Spark (selectExpr) and the DuckDB oracle (nested sub-selects),
    so both engines execute identical IEEE arithmetic."""
    stages = []
    norms = [
        f"sqrt((v1x+v2x)*(v1x+v2x) + (v1y+v2y)*(v1y+v2y) + (v1z+v2z)*(v1z+v2z)) AS n0",
        f"sqrt((v0x+v2x)*(v0x+v2x) + (v0y+v2y)*(v0y+v2y) + (v0z+v2z)*(v0z+v2z)) AS n1",
        f"sqrt((v0x+v1x)*(v0x+v1x) + (v0y+v1y)*(v0y+v1y) + (v0z+v1z)*(v0z+v1z)) AS n2",
    ]
    mids = [
        "(v1x+v2x)/n0 AS w0x", "(v1y+v2y)/n0 AS w0y", "(v1z+v2z)/n0 AS w0z",
        "(v0x+v2x)/n1 AS w1x", "(v0y+v2y)/n1 AS w1y", "(v0z+v2z)/n1 AS w1z",
        "(v0x+v1x)/n2 AS w2x", "(v0y+v1y)/n2 AS w2y", "(v0z+v1z)/n2 AS w2z",
    ]
    tests = [
        f"{_htm_inside(_v('v0'), _v('w2'), _v('w1'))} AS ins0",
        f"{_htm_inside(_v('v1'), _v('w0'), _v('w2'))} AS ins1",
        f"{_htm_inside(_v('v2'), _v('w1'), _v('w0'))} AS ins2",
    ]
    child = ["CASE WHEN ins0 THEN 0 WHEN ins1 THEN 1 WHEN ins2 THEN 2 ELSE 3 END AS child"]
    upd = ["id*4 + child AS id"]
    # child k: (v0,w2,w1) / (v1,w0,w2) / (v2,w1,w0) / default (w0,w1,w2)
    sel = {
        "v0": ("v0", "v1", "v2", "w0"),
        "v1": ("w2", "w0", "w1", "w1"),
        "v2": ("w1", "w2", "w0", "w2"),
    }
    for out, (c0, c1, c2, cd) in sel.items():
        for ax in "xyz":
            upd.append(
                f"CASE child WHEN 0 THEN {c0}{ax} WHEN 1 THEN {c1}{ax}"
                f" WHEN 2 THEN {c2}{ax} ELSE {cd}{ax} END AS {out}{ax}"
            )
    stages.append(norms)
    stages.append(mids)
    stages.append(tests + child)
    stages.append(upd)
    return stages


def _htm_root_selects() -> list[list[str]]:
    roots = []
    for rid, (a, b, c) in _HTM_ROOT_DEFS:
        roots.append(
            (rid, _htm_inside(_HTM_AXIS[a], _HTM_AXIS[b], _HTM_AXIS[c]))
        )
    flags = [f"{ins} AS r{rid}" for rid, ins in roots]
    whens = " ".join(f"WHEN r{rid} THEN {rid}" for rid, _ in roots)
    pick = [f"CAST(CASE {whens} ELSE 8 END AS BIGINT) AS id"]
    # vertex literals per root (fallback: root 8's corners — the numpy
    # straggler convention)
    for slot in range(3):
        for axi, ax in enumerate("xyz"):
            whens_v = " ".join(
                f"WHEN r{rid} THEN {_HTM_AXIS[corners[slot]][axi]}"
                for rid, corners in _HTM_ROOT_DEFS
            )
            fallback = _HTM_AXIS[_HTM_ROOT_DEFS[0][1][slot]][axi]
            pick.append(f"CASE {whens_v} ELSE {fallback} END AS v{slot}{ax}")
    return [flags, pick]


_HTM_BASE_SQL = """
      SELECT c_custkey,
             sqrt(1.0e0 - pz*pz) * cos(radians(rad)) AS px,
             sqrt(1.0e0 - pz*pz) * sin(radians(rad)) AS py,
             pz
      FROM (
        SELECT c_custkey,
               ((CAST(c_custkey AS DOUBLE) * 0.6180339887e0) % 1.0e0) * 2 - 1
                 AS pz,
               (CAST(c_custkey AS DOUBLE) * 137.50776405e0) % 360.0e0 AS rad
        FROM customer)
"""


def _htm_oracle() -> str:
    ctes = [f"base AS MATERIALIZED ({_HTM_BASE_SQL})"]
    prev = "base"
    for i, sel in enumerate(_htm_root_selects()):
        ctes.append(f"r{i} AS MATERIALIZED (SELECT *, {', '.join(sel)} FROM {prev})")
        prev = f"r{i}"
    for lv in range(_HTM_LEVEL):
        for j, sel in enumerate(_htm_level_selects()):
            name = f"l{lv}_{j}"
            ctes.append(
                f"{name} AS MATERIALIZED (SELECT *, {', '.join(sel)} FROM {prev})"
                if j < 3
                else f"{name} AS MATERIALIZED (SELECT c_custkey, px, py, pz,"
                f" {', '.join(sel)} FROM {prev})"
            )
            prev = name
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT c_custkey, id AS htm9 FROM {prev}"
    )


@register("spatial_htm", oracle=_htm_oracle())
def spatial_htm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTM (Hierarchical Triangular Mesh, Kunszt/Szalay/Thakar) level-9
    trixel id computed entirely with Catalyst expressions — the LAST of
    `spatial_cols`' three index columns to get a fully SQL-oracled twin
    (nest4096 r6, ring256 r7, htm9 now; the rows-only surface shrinks
    again). Root selection over the 8 octahedral start triangles, then 9
    midpoint-subdivision levels; every containment test is a
    cross-product edge-plane sign test with the eps=-1e-12 tolerance the
    numpy reference uses (functions/spatial.py:radec_to_htm, the same
    first-match root order and center-default child order).

    One generator emits every arithmetic expression ONCE as SQL text:
    Spark executes it via selectExpr, DuckDB via chained MATERIALIZED
    CTEs — identical IEEE arithmetic by construction, so the only
    cross-engine exposure is sin/cos's last ulp on points within ~1e-15
    of an edge plane (generic golden-angle positions; the three-way
    numpy/UDF/SQL agreement test pins the whole id, like nest and ring).

    Scale: a narrow 38-projection chain, zero shuffles, zero UDFs — the
    per-level state is 13 doubles/row. HTM ids are the classic
    spatial-join key of the SDSS SkyServer lineage; at load time this
    expression IS the partition-column generator.

    Codegen sizing (r14): the FULL 38-projection chain generates a
    ~17k-line whole-stage-codegen class that Janino fails to compile
    ("Failed to compile the generated Java code", observed on every
    invocation), so the entire chain silently executed INTERPRETED. An
    eager ``localCheckpoint`` every 3 levels cuts the chain into spans
    Janino compiles fine; the inter-level state is only the 14 narrow
    columns (id + 3 vertices + point), so each cut materializes a few
    hundred KB. Interim blocks are freed once the (2-column) result
    materializes — the established shared-subtree discipline."""
    c = load(spark, sf_dir, "customer")
    base = c.selectExpr(
        "c_custkey",
        "((CAST(c_custkey AS DOUBLE) * 0.6180339887e0) % 1.0e0) * 2 - 1 AS pz",
        "(CAST(c_custkey AS DOUBLE) * 137.50776405e0) % 360.0e0 AS rad",
    ).selectExpr(
        "c_custkey",
        "sqrt(1.0e0 - pz*pz) * cos(radians(rad)) AS px",
        "sqrt(1.0e0 - pz*pz) * sin(radians(rad)) AS py",
        "pz",
    )
    df = base
    for sel in _htm_root_selects():
        df = df.selectExpr("*", *sel)
    interims: list[DataFrame] = []
    for lv in range(_HTM_LEVEL):
        stages = _htm_level_selects()
        for j, sel in enumerate(stages):
            if j < 3:
                df = df.selectExpr("*", *sel)
            else:
                df = df.selectExpr("c_custkey", "px", "py", "pz", *sel)
        if lv % 3 == 2 and lv < _HTM_LEVEL - 1:
            df = df.localCheckpoint(eager=True)
            interims.append(df)
    result = df.select("c_custkey", F.col("id").alias("htm9")).localCheckpoint(
        eager=True
    )
    for it in interims:
        release(it)
    return result


# ---------------------------------------------------------------------------
# Adaptive quadtree spatial index (round 9)
# ---------------------------------------------------------------------------
_QT_MAX_LEVEL = 4
_QT_CAP = 1000  # split a cell while it holds more than this many points


@register(
    "spatial_quadtree_index",
    oracle=f"""
    WITH pts AS (
      SELECT ((l_quantity - 1) / 50.0) * ((l_quantity - 1) / 50.0) AS x,
             (l_extendedprice / 105000.0) * (l_extendedprice / 105000.0) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT lv.lv AS level,
             CAST(FLOOR(p.x * (1 << lv.lv)) AS BIGINT) AS ix,
             CAST(FLOOR(p.y * (1 << lv.lv)) AS BIGINT) AS iy
      FROM pts p
      CROSS JOIN (SELECT unnest(range(0, {_QT_MAX_LEVEL} + 1)) AS lv) lv
    ),
    cnt AS (
      SELECT level, ix, iy, CAST(COUNT(*) AS BIGINT) AS n_points
      FROM cells GROUP BY 1, 2, 3
    )
    SELECT c.level, c.ix, c.iy, c.n_points
    FROM cnt c
    LEFT JOIN cnt p
      ON p.level = c.level - 1 AND p.ix = c.ix // 2 AND p.iy = c.iy // 2
    WHERE (c.n_points <= {_QT_CAP} OR c.level = {_QT_MAX_LEVEL})
      AND (c.level = 0 OR p.n_points > {_QT_CAP})
    """,
)
def spatial_quadtree_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree leaf decomposition of the (quantity, price)
    plane: every cell splits while it holds more than {_QT_CAP} points,
    down to level {_QT_MAX_LEVEL} — the classic adaptive spatial index
    build (the load-time partitioner behind R-tree/quadtree layouts,
    and the 2-D analog of the `zorder_layout` operator's linearization).
    The raw fixture plane is uniform (price is independent of quantity —
    measured), so the index is exercised on the SQUARED coordinates (the
    constructed-fixture convention `ml_auc_roc` documents): squaring
    concentrates mass toward the origin with density 1/(4*sqrt(x*y)), and
    the leaf set genuinely MIXES levels — origin cells refine deeper than
    the sparse far corner, which a fixed-depth grid (`spatial_geohash`)
    cannot express.

    Leaf rule, purely relational: a cell is a leaf iff its own count is
    within cap (or it sits at max level) AND its parent overflowed —
    computed from ONE per-level count table self-joined to its parent
    level (integer cell ids: floor(coord * 2^level); everything is exact
    integer arithmetic in both engines).

    Scale: one fact scan fanned {_QT_MAX_LEVEL + 1}x by a literal level
    array into a mergeable (level, ix, iy) count — O(4^maxlevel) rows out
    of the shuffle regardless of input size; the parent join touches only
    that tiny table. Deeper trees just extend the literal array."""
    li = load(spark, sf_dir, "lineitem")
    xr = (F.col("l_quantity") - 1) / 50.0
    yr = F.col("l_extendedprice") / 105000.0
    pts = li.select((xr * xr).alias("x"), (yr * yr).alias("y"))
    lv = F.explode(
        F.array(*[F.lit(i) for i in range(_QT_MAX_LEVEL + 1)])
    ).alias("level")
    cells = pts.select("x", "y", lv).select(
        "level",
        F.expr("floor(x * shiftleft(1, level))").alias("ix"),
        F.expr("floor(y * shiftleft(1, level))").alias("iy"),
    )
    cnt = cells.groupBy("level", "ix", "iy").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    c, p = cnt.alias("c"), cnt.alias("p")
    return (
        c.join(
            p,
            (F.col("p.level") == F.col("c.level") - 1)
            & (F.col("p.ix") == F.expr("c.ix div 2"))
            & (F.col("p.iy") == F.expr("c.iy div 2")),
            "left",
        )
        .filter(
            (
                (F.col("c.n_points") <= _QT_CAP)
                | (F.col("c.level") == _QT_MAX_LEVEL)
            )
            & ((F.col("c.level") == 0) | (F.col("p.n_points") > _QT_CAP))
        )
        .select(
            F.col("c.level").alias("level"),
            F.col("c.ix").alias("ix"),
            F.col("c.iy").alias("iy"),
            F.col("c.n_points").alias("n_points"),
        )
    )


# ---------------------------------------------------------------------------
# Moran's I global spatial autocorrelation (round 11 tail)
# ---------------------------------------------------------------------------
_MI_GRID = 16     # cells per axis (queen adjacency on a 16x16 lattice)
_MI_TREND = 500.0  # planted per-cell gradient (must dominate the ~3e3 acctbal cell noise)


@register(
    "spatial_morans_i",
    oracle=f"""
    WITH pos AS (
      SELECT CAST(concat('0x', substr(md5(concat('mi-',
               CAST(c_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % {_MI_GRID}
               AS cx,
             CAST(concat('0x', substr(md5(concat('mi-',
               CAST(c_custkey AS VARCHAR))), 16, 15)) AS BIGINT) % {_MI_GRID}
               AS cy,
             c_acctbal AS v
      FROM customer
    ),
    cells AS MATERIALIZED (
      SELECT cx, cy, AVG(v) AS m,
             AVG(v) + {_MI_TREND} * (cx + cy) AS mg
      FROM pos GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT a.m AS ma, b.m AS manbr, a.mg AS ga, b.mg AS ganbr,
             a.cx AS acx, a.cy AS acy
      FROM cells a JOIN (
        SELECT cx + dx AS ncx, cy + dy AS ncy, m, mg
        FROM cells, (SELECT UNNEST([-1,-1,-1,0,0,1,1,1]) AS dx,
                            UNNEST([-1,0,1,-1,1,-1,0,1]) AS dy) o
      ) b ON a.cx = b.ncx AND a.cy = b.ncy
    ),
    deg AS (SELECT acx, acy, CAST(COUNT(*) AS DOUBLE) AS d
            FROM pairs GROUP BY 1, 2),
    consts AS (
      SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM cells) AS nn,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM pairs) AS ww,
             (SELECT SUM(d * d) * 4 FROM deg) AS s2,
             (SELECT AVG(m) FROM cells) AS mbar,
             (SELECT AVG(mg) FROM cells) AS gbar
    ),
    num AS (
      SELECT SUM((ma - c.mbar) * (manbr - c.mbar)) AS num0,
             SUM((ga - c.gbar) * (ganbr - c.gbar)) AS numg
      FROM pairs CROSS JOIN consts c
    ),
    den AS (
      SELECT SUM((m - c.mbar) * (m - c.mbar)) AS den0,
             SUM((mg - c.gbar) * (mg - c.gbar)) AS deng
      FROM cells CROSS JOIN consts c
    ),
    scen AS (
      SELECT 'gradient' AS scenario, nn, ww,
             nn / ww * numg / deng AS i_stat, s2
      FROM consts CROSS JOIN num CROSS JOIN den
      UNION ALL
      SELECT 'null', nn, ww, nn / ww * num0 / den0, s2
      FROM consts CROSS JOIN num CROSS JOIN den
    )
    SELECT scenario,
           CAST(nn AS BIGINT) AS n_cells,
           CAST(ww AS BIGINT) AS w_pairs,
           ROUND(i_stat, 6) AS morans_i,
           ROUND(-1 / (nn - 1), 6) AS e_i,
           ROUND((i_stat + 1 / (nn - 1))
                 / sqrt((nn * nn * 2 * ww - nn * s2 + 3 * ww * ww)
                        / (ww * ww * (nn * nn - 1))
                        - 1 / ((nn - 1) * (nn - 1))), 4) AS z_stat,
           CAST(ABS((i_stat + 1 / (nn - 1))
                    / sqrt((nn * nn * 2 * ww - nn * s2 + 3 * ww * ww)
                           / (ww * ww * (nn * nn - 1))
                           - 1 / ((nn - 1) * (nn - 1)))) > 1.96 AS INTEGER)
             AS reject_05
    FROM scen ORDER BY scenario
    """,
)
def spatial_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I (1950) — THE global spatial-autocorrelation statistic:
    I = (N/W) sum_ij w_ij z_i z_j / sum_i z_i^2 over queen (8-neighbor)
    adjacency on a {_MI_GRID}x{_MI_GRID} lattice of md5-scattered
    customer cells, with the normality-assumption null E[I] = -1/(N-1),
    Var(I) = (N^2 S1 - N S2 + 3W^2)/(W^2(N^2-1)) - E[I]^2 (0/1 symmetric
    weights make S1 = 2W and S2 = 4 sum deg^2 exactly). TWO scenarios
    (the ml_proportion_ztest convention): 'null' = raw per-cell mean
    account balance (spatially random -> I ~ E[I], no rejection) and
    'gradient' = the same means plus a planted {_MI_TREND:.0f}(cx+cy)
    trend (strong positive autocorrelation -> detected).

    Scale: the ONLY data-volume stage is the one groupBy contracting
    customers to O(grid^2) cells; the queen join is an 8-way offset
    explode + equi-join on cell ids (never a distance cross join), and
    every moment after runs on <= 256 rows. This is exactly how Moran/
    Getis-Ord hot-spot screens run on planet-scale point data: grid
    first, weight-join the contraction."""
    c = load(spark, sf_dir, "customer")
    h = lambda off: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat(F.lit("mi-"), F.col("c_custkey").cast("string"))), off, 15
        ),
        16,
        10,
    ).cast("long")
    pos = c.select(
        (h(1) % _MI_GRID).alias("cx"),
        (h(16) % _MI_GRID).alias("cy"),
        F.col("c_acctbal").alias("v"),
    )
    cells = pos.groupBy("cx", "cy").agg(F.avg("v").alias("m"))
    cells = cells.select(
        "cx", "cy", "m", (F.col("m") + _MI_TREND * (F.col("cx") + F.col("cy"))).alias("mg")
    )
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    nbr = cells.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("ncx"),
                        (F.col("cy") + dy).alias("ncy"),
                    )
                    for dx, dy in offs
                ]
            )
        ).alias("o"),
        F.col("m").alias("mb_"),
        F.col("mg").alias("mgb_"),
    ).select(F.col("o.ncx").alias("ncx"), F.col("o.ncy").alias("ncy"), "mb_", "mgb_")
    pairs = cells.join(
        nbr, (F.col("cx") == F.col("ncx")) & (F.col("cy") == F.col("ncy"))
    ).select("cx", "cy", "m", "mg", "mb_", "mgb_")
    deg = pairs.groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("double").alias("d"))
    base = (
        cells.agg(
            F.count(F.lit(1)).cast("double").alias("nn"),
            F.avg("m").alias("mbar"),
            F.avg("mg").alias("mgbar"),
        )
        .crossJoin(F.broadcast(pairs.agg(F.count(F.lit(1)).cast("double").alias("ww"))))
        .crossJoin(F.broadcast(deg.agg((F.sum(F.col("d") * F.col("d")) * 4).alias("s2"))))
    )
    num = pairs.crossJoin(F.broadcast(base)).agg(
        F.sum((F.col("m") - F.col("mbar")) * (F.col("mb_") - F.col("mbar"))).alias(
            "num0"
        ),
        F.sum(
            (F.col("mg") - F.col("mgbar")) * (F.col("mgb_") - F.col("mgbar"))
        ).alias("numg"),
    )
    den = cells.crossJoin(F.broadcast(base)).agg(
        F.sum((F.col("m") - F.col("mbar")) * (F.col("m") - F.col("mbar"))).alias(
            "den0"
        ),
        F.sum((F.col("mg") - F.col("mgbar")) * (F.col("mg") - F.col("mgbar"))).alias(
            "deng"
        ),
    )
    j = base.crossJoin(F.broadcast(num)).crossJoin(F.broadcast(den))
    nn, ww, s2 = F.col("nn"), F.col("ww"), F.col("s2")
    var_i = (nn * nn * 2 * ww - nn * s2 + 3 * ww * ww) / (
        ww * ww * (nn * nn - 1)
    ) - 1 / ((nn - 1) * (nn - 1))
    rows = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("gradient").alias("scenario"),
                    (nn / ww * F.col("numg") / F.col("deng")).alias("i_stat"),
                ),
                F.struct(
                    F.lit("null").alias("scenario"),
                    (nn / ww * F.col("num0") / F.col("den0")).alias("i_stat"),
                ),
            )
        ).alias("r"),
        "nn",
        "ww",
        "s2",
    )
    i_stat = F.col("r.i_stat")
    z = (i_stat + 1 / (nn - 1)) / F.sqrt(var_i)
    return rows.select(
        F.col("r.scenario").alias("scenario"),
        nn.cast("long").alias("n_cells"),
        ww.cast("long").alias("w_pairs"),
        F.round(i_stat, 6).alias("morans_i"),
        F.round(-1 / (nn - 1), 6).alias("e_i"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_05"),
    ).orderBy("scenario")


# ---------------------------------------------------------------------------
# Getis-Ord local hot spots (round 11 tail)
# ---------------------------------------------------------------------------
_GO_TOPK = 10


@register(
    "spatial_getis_ord",
    oracle=f"""
    WITH pos AS (
      SELECT CAST(concat('0x', substr(md5(concat('mi-',
               CAST(c_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % {_MI_GRID}
               AS cx,
             CAST(concat('0x', substr(md5(concat('mi-',
               CAST(c_custkey AS VARCHAR))), 16, 15)) AS BIGINT) % {_MI_GRID}
               AS cy,
             c_acctbal AS v
      FROM customer
    ),
    cells AS MATERIALIZED (
      SELECT cx, cy,
             AVG(v) + {_MI_TREND} * (cx + cy) AS x
      FROM pos GROUP BY 1, 2
    ),
    consts AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nn, AVG(x) AS xbar,
             SQRT(SUM(x * x) / COUNT(*) - AVG(x) * AVG(x)) AS s
      FROM cells
    ),
    nbr AS (
      SELECT a.cx, a.cy,
             SUM(b.x) + MAX(a.x) AS wx,
             CAST(COUNT(*) + 1 AS DOUBLE) AS k
      FROM cells a JOIN (
        SELECT cx + dx AS ncx, cy + dy AS ncy, x
        FROM cells, (SELECT UNNEST([-1,-1,-1,0,0,1,1,1]) AS dx,
                            UNNEST([-1,0,1,-1,1,-1,0,1]) AS dy) o
      ) b ON a.cx = b.ncx AND a.cy = b.ncy
      GROUP BY a.cx, a.cy
    ),
    g AS (
      SELECT cx, cy,
             ROUND((wx - k * xbar)
                   / (s * SQRT((nn * k - k * k) / (nn - 1))), 4) AS gi_z
      FROM nbr CROSS JOIN consts
    )
    SELECT cx, cy, gi_z
    FROM g ORDER BY gi_z DESC, cx ASC, cy ASC LIMIT {_GO_TOPK}
    """,
)
def spatial_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* local hot-spot statistic (Getis & Ord 1992, Ord &
    Getis 1995) — the LOCAL companion of `spatial_morans_i` (same
    md5-scattered cell grid, same planted {_MI_TREND:.0f}(cx+cy)
    gradient, same queen weights, self-included as Gi* requires): for
    each cell, z = (sum of the neighborhood's values - k xbar) /
    (s sqrt((N k - k^2)/(N-1))) — the statistic behind every "hot spot
    map" in epidemiology/crime/retail geo-analytics. Reports the
    {_GO_TOPK} hottest cells; the planted gradient means they MUST
    cluster at high (cx + cy) (pinned by pytest).

    Determinism: Gi* is rounded at 4dp BEFORE the top-k sort with
    (cx, cy) tiebreaks, so fold-order ulp cannot reorder the cut (the
    join_xmatch_nearest rank-on-rounded discipline). Plan: one grid
    contraction (the only data-volume stage), the same 8-offset
    equi-join as Moran, then a {_GO_TOPK}-row TakeOrdered — no global
    sort of anything bigger than the cell frame."""
    c = load(spark, sf_dir, "customer")
    h = lambda off: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat(F.lit("mi-"), F.col("c_custkey").cast("string"))), off, 15
        ),
        16,
        10,
    ).cast("long")
    pos = c.select(
        (h(1) % _MI_GRID).alias("cx"),
        (h(16) % _MI_GRID).alias("cy"),
        F.col("c_acctbal").alias("v"),
    )
    cells = pos.groupBy("cx", "cy").agg(
        (F.avg("v") + _MI_TREND * (F.col("cx") + F.col("cy"))).alias("x")
    )
    consts = cells.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.avg("x").alias("xbar"),
        F.sqrt(
            F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1))
            - F.avg("x") * F.avg("x")
        ).alias("s"),
    )
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    nbrs = cells.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("ncx"),
                        (F.col("cy") + dy).alias("ncy"),
                    )
                    for dx, dy in offs
                ]
            )
        ).alias("o"),
        F.col("x").alias("xn"),
    ).select(F.col("o.ncx").alias("ncx"), F.col("o.ncy").alias("ncy"), "xn")
    nbr = (
        cells.join(nbrs, (F.col("cx") == F.col("ncx")) & (F.col("cy") == F.col("ncy")))
        .groupBy("cx", "cy")
        .agg(
            (F.sum("xn") + F.max("x")).alias("wx"),
            (F.count(F.lit(1)) + 1).cast("double").alias("k"),
        )
    )
    g = nbr.crossJoin(F.broadcast(consts)).select(
        "cx",
        "cy",
        F.round(
            (F.col("wx") - F.col("k") * F.col("xbar"))
            / (
                F.col("s")
                * F.sqrt(
                    (F.col("nn") * F.col("k") - F.col("k") * F.col("k"))
                    / (F.col("nn") - 1)
                )
            ),
            4,
        ).alias("gi_z"),
    )
    return g.orderBy(F.col("gi_z").desc(), F.col("cx").asc(), F.col("cy").asc()).limit(
        _GO_TOPK
    )
