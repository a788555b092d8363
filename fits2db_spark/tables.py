"""Fixture table schemas + loaders.

Mirrors the reference's declared-schema philosophy (FITS headers declare
TTYPEn/TFORMn; schemas are never inferred — SURVEY.md §1.1): every fixture
table gets an explicit ``StructType`` and the loader asserts the parquet
footer agrees. ``events.ts`` is stored as parquet timestamp[ns]; ``load()``
normalizes it to a µs TIMESTAMP whatever dtype the reader surfaces
(TIMESTAMP_NTZ on PySpark 4.1+, int64 ns on builds honoring the legacy
``nanosAsLong`` conf) — the same truncation DuckDB applies when casting
TIMESTAMP_NS -> TIMESTAMP, keeping the oracle comparison exact.

Scale note: loaders are plain ``spark.read.parquet`` scans — column pruning
and predicate pushdown flow into the scan from whatever the caller selects
(verified via .explain in tests). At 100 TB these same loaders work on a
partitioned directory layout; nothing here materializes or collects.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .session import ensure_runtime_confs, free_memo_checkpoints, memo, release

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# Explicit schemas, verified against the parquet footers (FIXTURES.md).
SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),  # after ns->us conversion in load()
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}


# Warm-cache registry (bench path): (sf_dir, name) -> cached DataFrame.
# The driver's correctness runs never populate this, so they measure the
# plain declarative scans; bench.py calls warm_cache() first — the SURVEY.md
# §6 guidance (shared session + cached fixtures across queries).
_CACHE: dict[tuple[str, str], DataFrame] = {}


def warm_cache(spark: SparkSession, sf_dir: str, partitions: int | None = None) -> None:
    """Cache all fixture tables, repartitioned for CPU parallelism: into
    ``partitions``, by default the session's ``defaultParallelism`` (its
    core count) capped at 32.

    The single-file fixtures have ONE parquet row group each (verified), so
    file-split tuning cannot parallelize the scan — an explicit repartition
    is the only way to use >1 core on them. On a real multi-file / multi-
    row-group layout (any production table) this is unnecessary: scan
    parallelism comes from splits, and this function is simply not called.
    """
    n_parts = partitions or min(spark.sparkContext.defaultParallelism, 32)
    # Fact tables are repartitioned BY KEY, not round-robin: the cached
    # InMemoryRelation then reports hashpartitioning on the table's primary
    # join/group key, and Catalyst elides the exchange in key-aligned joins
    # and aggregations — the cache-layer equivalent of the bucketed layout a
    # 100 TB deployment writes these tables in (tests/test_bucketing.py
    # proves the on-disk variant).
    _KEYED = {"lineitem": "l_orderkey", "orders": "o_orderkey", "events": "user_id"}
    for name in TABLE_NAMES:
        df = load(spark, sf_dir, name, _use_cache=False)
        if name in _KEYED:
            df = df.repartition(n_parts, _KEYED[name])
        elif name in ("documents", "embeddings"):
            df = df.repartition(n_parts)
        df = df.cache()
        df.count()  # materialize
        _CACHE[(sf_dir, name)] = df


def clear_cache() -> None:
    """Drop the warm fixture cache, then every operator memo."""
    for df in _CACHE.values():
        release(df)
    _CACHE.clear()
    free_memo_checkpoints()


def load(spark: SparkSession, sf_dir: str, name: str, _use_cache: bool = True) -> DataFrame:
    """Load one fixture table with its declared schema."""
    if _use_cache and (sf_dir, name) in _CACHE:
        return _CACHE[(sf_dir, name)]
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        # events.ts is stored as parquet timestamp[ns]. How it arrives depends
        # on the Spark version: 4.1+ reads it natively as TIMESTAMP_NTZ (µs
        # truncation already applied by the reader); older builds honoring
        # spark.sql.legacy.parquet.nanosAsLong deliver int64 nanoseconds.
        # Branch on the ACTUAL dtype — the conf is inert on PySpark 4.1.2.
        # Both paths floor to µs, matching DuckDB's TIMESTAMP_NS -> TIMESTAMP
        # cast; session tz is UTC so NTZ -> TIMESTAMP is shift-free.
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


_SCRATCH = os.path.join(tempfile.gettempdir(), "fits2db_spark_scratch")


def stage(spark: SparkSession, sf_dir: str, name: str, write) -> str:
    """Return the scratch path ``<tmp>/fits2db_spark_scratch/<name>_<sf tag>``
    of a staged input, calling ``write(path)`` on the first request: a
    :func:`~fits2db_spark.session.memo` entry, so one staged input has one
    name and one writer."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out = os.path.join(_SCRATCH, f"{name}_{tag}")

    def build() -> str:
        write(out)
        return out

    return memo(spark, sf_dir, f"staged:{name}", build)


def daily_value_series(spark: SparkSession, sf_dir: str, agg: str = "sum") -> DataFrame:
    """One row per (event_type, day index) over the events stream: the
    shared first stage of every daily-series operator (CUSUM, seasonality,
    ACF, interpolation, rolling median, seasonal anomalies). The day index
    is ``datediff`` from the PINNED epoch 2024-01-01 — every paired oracle
    replicates exactly ``datediff('day', DATE '2024-01-01', CAST(ts AS
    DATE))``, so the epoch and the cast order live in ONE place. This is
    also the only stage of those operators that sees event volume; it
    partial-aggregates map-side."""
    ev = load(spark, sf_dir, "events")
    agg_fn = {"sum": F.sum, "avg": F.avg}[agg]
    return ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).agg(agg_fn("value").alias("v"))
