"""JDBC bulk-load sink (SURVEY.md §2.A sink_jdbc) — the reference's database
load path (create / append / drop / truncate semantics, chunked bulk writes)
as a thin policy layer over ``df.write.jdbc``.

Scale notes: ``batchsize`` controls rows per JDBC batch INSERT (the COPY-
bulk-load analogue). Every partition writes through its own connection and
commits its own transaction. ``num_partitions`` caps the connections with
Spark's JDBC ``numPartitions`` write option, which coalesces the frame
without a shuffle: size it to the database's ingest capacity, not the
cluster's core count. An embedded Derby database (``jdbc:derby:`` but not
``jdbc:derby://``) always loads through one connection: its engine and log
live in this JVM, so more connections only contend (60k rows from a
persisted frame, 4 cores, medians of 10 laps: 0.31 s over one connection,
0.43 s over four). One connection is one transaction, so an embedded
append that fails leaves the table as it was. A server database still
commits per partition, so a write that fails part-way leaves the
partitions already committed.

Embedded Derby writes its transaction log write-synced through buffers
of ``derby.storage.logBufferSize`` bytes (32 KiB by default), so the one
connection waits on the disk once per 32 KiB of log: hundreds of
synchronous writes per 60k-row load, whatever the batch size. Before an
embedded write, ``write_jdbc`` sets that JVM system property to 4 MiB
unless it is already set, so the same load makes a handful of large
writes (the append above took 0.44 s with 32 KiB buffers). Commit still
forces the log, so durability is unchanged.

Tested against Derby (the only JDBC driver shipped with Spark); the API is
driver-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


MODES = ("create", "append", "overwrite", "truncate")

# Derby's log buffer property (system scope, read when a database boots;
# Derby accepts 8 KiB to 128 MiB) and the size embedded loads ask for.
DERBY_LOG_BUFFER = "derby.storage.logBufferSize"
DERBY_LOG_BUFFER_BYTES = 4 << 20


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
) -> None:
    """Load a DataFrame into a SQL table.

    mode: 'create' (error if exists), 'append', 'overwrite' (drop+recreate),
    'truncate' (overwrite keeping the existing table's DDL in place).

    Column DDL on create: Spark's JdbcDialect maps the DataFrame schema to
    the target database's types. ``dialect`` is ignored: only the explicit
    DDL path (``sinks/ddl.py``) adapts to a dialect. The parameter stays in
    the signature only because perfbench's ``_traced_cli_run`` passes it.

    ``num_partitions`` caps the concurrent connections (Spark's
    ``numPartitions``: a coalesce, no shuffle); an embedded Derby URL
    always gets one, which makes its row inserts one transaction.

    Before an embedded Derby write this sets the JVM system property
    ``derby.storage.logBufferSize`` to 4 MiB, unless it is already set (a
    value the user set is kept). The JVM is the driver's, where an
    embedded database lives; in local mode it is also the executors'.
    Derby reads the property when a database boots, so it costs 3 x 4 MiB
    of log buffers per embedded database booted after the first embedded
    load, and a database booted before that keeps its old buffer until it
    reboots."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    lowered = url.lower()
    if lowered.startswith("jdbc:derby:") and not lowered.startswith("jdbc:derby://"):
        num_partitions = 1  # embedded: the database runs in this JVM
        system = df.sparkSession._jvm.java.lang.System
        if system.getProperty(DERBY_LOG_BUFFER) is None:
            system.setProperty(DERBY_LOG_BUFFER, str(DERBY_LOG_BUFFER_BYTES))
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if num_partitions:
        w = w.option("numPartitions", str(num_partitions))
    if driver:
        w = w.option("driver", driver)
    if mode == "create":
        w.mode("errorifexists").save()
    elif mode == "append":
        w.mode("append").save()
    elif mode == "overwrite":
        w.mode("overwrite").save()
    else:  # truncate
        w.option("truncate", "true").mode("overwrite").save()
