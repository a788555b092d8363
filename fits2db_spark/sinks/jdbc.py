"""JDBC bulk-load sink (SURVEY.md §2.A sink_jdbc) — the reference's database
load path (create / append / drop / truncate semantics, chunked bulk writes)
as a thin policy layer over ``df.write.jdbc``.

Scale notes: ``batchsize`` controls rows per JDBC batch INSERT (the COPY-
bulk-load analogue); ``numPartitions`` caps concurrent connections — at
cluster scale every partition opens its own connection, so repartition the
DataFrame to the DB's ingest capacity, not the cluster's core count.
Tested against Derby (the only JDBC driver shipped with Spark); the API is
driver-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


MODES = ("create", "append", "overwrite", "truncate")


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "create",
    *,
    dialect: str = "postgres",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    driver: str | None = None,
    column_types: str | None = None,
) -> None:
    """Load a DataFrame into a SQL table.

    mode: 'create' (error if exists), 'append', 'overwrite' (drop+recreate),
    'truncate' (overwrite keeping the existing table's DDL in place).

    Column DDL on create: Spark's JdbcDialect maps the DataFrame schema to
    the target database's types automatically. ``column_types`` overrides
    per-column types — its value must be SPARK SQL type syntax (e.g.
    ``"name VARCHAR(16), flux DOUBLE"``), which Spark parses and re-maps;
    database-native strings like ``double precision`` are a parse error by
    design (that mapping belongs to ddl.create_table_ddl, the explicit-DDL
    path). ``dialect`` is kept for the explicit-DDL emit path signature
    parity."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    if num_partitions:
        df = df.repartition(num_partitions)
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if driver:
        w = w.option("driver", driver)
    if column_types:
        w = w.option("createTableColumnTypes", column_types)
    if mode == "create":
        w.mode("errorifexists").save()
    elif mode == "append":
        w.mode("append").save()
    elif mode == "overwrite":
        w.mode("overwrite").save()
    else:  # truncate
        w.option("truncate", "true").mode("overwrite").save()
