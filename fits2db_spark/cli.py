"""Command-line entry point: ``python -m fits2db_spark``.

The reference tool is a CLI (SURVEY.md §3.1: argv -> dialect / table /
create / drop / truncate / HDU / chunk options -> DDL + CSV/COPY text or a
direct database load). This wrapper reproduces that surface on the Spark
engine:

    python -m fits2db_spark data/*.fits --table stars --create --dialect postgres
    python -m fits2db_spark cat.fits --table t --ddl-only
    python -m fits2db_spark cat.fits --table t --csv-out /tmp/out
    python -m fits2db_spark cat.fits --table t \
        --jdbc-url jdbc:derby:/tmp/db;create=true \
        --jdbc-driver org.apache.derby.jdbc.EmbeddedDriver --mode create
    python -m fits2db_spark cube.fits --table vox --hdu CUBE --csv-out /tmp/vox

No flag names the HDU kind: the header of the HDU that --hdu selects picks
the decoder. A BINTABLE (tile-compressed included) or an ASCII TABLE loads
its rows; a 2-D or 3-D IMAGE loads one (x, y[, z], val) row per pixel or
voxel, with BSCALE/BZERO applied and BLANK pixels NULL. Every input must
select the same kind.

Differences from the reference, by design (Spark-first): the "chunked row
loop" is Spark's per-file parallel decode (one task per FITS file); CSV
output is a partitioned directory unless --single-file; the JDBC load runs
one connection per partition (--num-partitions caps it to the database's
ingest capacity, not the cluster's core count), except that an embedded
Derby database (jdbc:derby: without //) always loads through one
connection, in one transaction. The reference writes its
outputs one after another; here every requested row sink (parquet, CSV,
VOTable, JDBC) reads one shared frame, decoded once per load and
repartitioned once for --num-partitions when a file sink reads it, and the
sinks run as concurrent Spark jobs. The JDBC sink starts first and the
file sinks start once its job is submitted, so its task, which sets the
load's length, gets a task slot at once instead of waiting behind the
file sinks' tasks. A load whose only row sink is JDBC is not
repartitioned: the JDBC writer caps its connections with a coalesce.

Failure semantics of a load with several row sinks:

* Every input is planned and checked on the driver (header, HDU kind,
  column names, types, byte size, and Spark's binaryFile length limit,
  2 GiB by default) before any sink writes; a bad input fails the load
  with no sink written.
* Every sink is attempted, and none is cancelled once running: a failing
  sink (say a VOTable over its --votable-limit) does not stop the others,
  and cancelling a JDBC append would leave its already-committed
  partitions behind. After all sinks end, the load raises one error that
  names each failed sink and each sink that completed.
* A failure of the shared decode itself (a corrupt tile, a --verify-checksum
  mismatch) fails every sink that reads the frame.
* A JDBC sink commits per partition, so a JDBC write that fails part-way
  leaves the partitions it already committed. Embedded Derby is the
  exception: it loads through one connection, so a failed append leaves
  the table as it was.
"""

from __future__ import annotations

import argparse
import sys
import uuid
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from .session import get_spark, release


def _positive_int(raw: str) -> int:
    v = int(raw)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {raw}")
    return v


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="fits2db_spark",
        description="FITS tables and images -> SQL (DDL / CSV / JDBC), on Spark.",
    )
    p.add_argument("inputs", nargs="+", help="FITS file(s) or glob(s)")
    p.add_argument("--table", required=True, help="target SQL table name")
    p.add_argument(
        "--hdu",
        default="1",
        help="HDU to load: 1-based index or EXTNAME (default 1). Its header "
        "picks the decoder: a BINTABLE or ASCII TABLE loads its rows, a 2-D "
        "or 3-D IMAGE one (x, y[, z], val) row per pixel with BSCALE/BZERO "
        "applied",
    )
    p.add_argument(
        "--verify-checksum",
        action="store_true",
        help="validate CHECKSUM/DATASUM on every HDU before decode; "
        "fail the load on the first corrupt HDU (unprotected files pass)",
    )
    p.add_argument(
        "--dialect",
        default="postgres",
        choices=("postgres", "sqlite", "mysql", "duckdb"),
        help="SQL dialect for DDL / column types",
    )
    # DDL emission (the reference's --create/--drop/--truncate trio)
    p.add_argument("--create", action="store_true", help="emit CREATE TABLE DDL")
    p.add_argument("--drop", action="store_true", help="emit DROP TABLE first")
    p.add_argument("--truncate", action="store_true", help="emit TRUNCATE TABLE")
    p.add_argument("--ddl-only", action="store_true", help="emit DDL and exit")
    p.add_argument("--sql-out", default="-", help="DDL destination file ('-' = stdout)")
    # Parquet sink (the lakehouse landing zone)
    p.add_argument("--parquet-out", help="write rows as parquet to this directory")
    p.add_argument(
        "--partition-by",
        help="comma-separated columns for parquet directory partitioning "
        "(hive layout: col=value/ subdirs enable partition pruning)",
    )
    # CSV sink
    p.add_argument("--csv-out", help="write rows as CSV to this directory")
    p.add_argument("--single-file", action="store_true", help="coalesce CSV to one part")
    p.add_argument("--delimiter", default=",")
    p.add_argument("--null-marker", default=r"\N", help="NULL text (COPY default \\N)")
    # VOTable sink (IVOA XML — the astronomy service response format)
    p.add_argument(
        "--votable-out",
        help="write rows as a VOTable 1.4 document (file path; "
        "distributed fragment layout with --votable-fragments)",
    )
    p.add_argument(
        "--votable-fragments",
        action="store_true",
        help="emit header/footer + one XML fragment per partition instead "
        "of collecting a single document",
    )
    p.add_argument(
        "--votable-limit",
        type=_positive_int,
        default=10_000,
        help="row bound for the single-document VOTable path; exceeding it "
        "is an error (never a silent truncation) — use --votable-fragments "
        "for complete large exports (default 10000)",
    )
    # JDBC sink
    p.add_argument("--jdbc-url", help="load rows into this JDBC database")
    p.add_argument("--jdbc-driver", help="JDBC driver class name")
    p.add_argument(
        "--mode",
        default="create",
        choices=("create", "append", "overwrite", "truncate"),
        help="JDBC load mode",
    )
    p.add_argument(
        "--batchsize", type=_positive_int, default=10_000, help="rows per JDBC batch"
    )
    p.add_argument(
        "--num-partitions",
        type=_positive_int,
        help="cap concurrent JDBC connections / CSV part files (an embedded "
        "Derby URL always loads through one connection)",
    )
    return p


def load_frame(spark: SparkSession, args: argparse.Namespace) -> DataFrame:
    """All FITS inputs as one DataFrame, from one reader call. The reader
    plans on the driver from file headers alone: it expands the globs,
    takes the HDU kind and the schema from the first file's header
    (declared, never inferred) and checks every file against them by kind,
    column name, type and byte size, so a bad input fails here, before any
    sink writes."""
    from .sources.fits import read_fits

    return read_fits(spark, args.inputs, hdu=args.hdu, verify_checksum=args.verify_checksum)


def emit_ddl(schema, args: argparse.Namespace, out) -> None:
    from .sinks.ddl import create_table_ddl, drop_table_ddl, truncate_table_ddl

    if args.drop:
        print(drop_table_ddl(args.table, args.dialect), file=out)
    if args.create or args.ddl_only:
        print(create_table_ddl(schema, args.table, args.dialect), file=out)
    if args.truncate:
        print(truncate_table_ddl(args.table, args.dialect), file=out)


def run(argv: list[str], spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        spark = get_spark("fits2db_spark_cli")

    df = load_frame(spark, args)

    wants_ddl = args.create or args.drop or args.truncate or args.ddl_only
    if wants_ddl:
        if args.sql_out == "-":
            emit_ddl(df.schema, args, sys.stdout)
        else:
            with open(args.sql_out, "w") as f:
                emit_ddl(df.schema, args, f)
    if args.ddl_only:
        return 0

    sinks = _row_sinks(args)
    if not sinks:
        if not wants_ddl:
            # dry run: schema + row count (the reference prints a summary too)
            print(f"table {args.table}: {df.count()} rows")
            for f in df.schema.fields:
                print(f"  {f.name}: {f.dataType.simpleString()}")
        return 0
    if args.num_partitions and any(name != "jdbc" for name, _ in sinks):
        df = df.repartition(args.num_partitions)
    if len(sinks) > 1:
        df = df.persist()
    try:
        _write_concurrently(df, sinks)
    finally:
        release(df)
    return 0


Sink = tuple[str, Callable[[DataFrame], None]]


def _row_sinks(args: argparse.Namespace) -> list[Sink]:
    """The requested row sinks as (name, write) pairs, JDBC first: it is
    the longest job, and ``_write_concurrently`` submits the first sink's
    job before it starts the others. ``run`` repartitions the frame for
    --num-partitions when a file sink reads it; ``write_jdbc`` gets the
    same cap as Spark's ``numPartitions``, a coalesce that is a no-op on
    a frame already repartitioned to it."""
    sinks = []
    if args.jdbc_url:
        from .sinks.jdbc import write_jdbc

        sinks.append(
            ("jdbc", lambda df: write_jdbc(
                df,
                args.jdbc_url,
                args.table,
                mode=args.mode,
                batchsize=args.batchsize,
                num_partitions=args.num_partitions,
                driver=args.jdbc_driver,
            ))
        )
    if args.parquet_out:
        def write_parquet(df: DataFrame) -> None:
            writer = df.write.mode("overwrite")
            if args.partition_by:
                writer = writer.partitionBy(
                    *[c.strip() for c in args.partition_by.split(",") if c.strip()]
                )
            writer.parquet(args.parquet_out)

        sinks.append(("parquet", write_parquet))
    if args.csv_out:
        from .sinks.csv_sink import write_csv

        sinks.append(
            ("csv", lambda df: write_csv(
                df,
                args.csv_out,
                delimiter=args.delimiter,
                null_marker=args.null_marker,
                single_file=args.single_file,
            ))
        )
    if args.votable_out:
        from .sinks.votable import votable_string, write_votable_fragments

        def write_votable(df: DataFrame) -> None:
            if args.votable_fragments:
                write_votable_fragments(df, args.votable_out, table_name=args.table)
                return
            # raises (never silently truncates) when the result exceeds
            # --votable-limit; the error points at --votable-fragments
            doc = votable_string(df, table_name=args.table, limit=args.votable_limit)
            with open(args.votable_out, "w") as f:
                f.write(doc)

        sinks.append(("votable", write_votable))
    return sinks


def _write_concurrently(df: DataFrame, sinks: list[Sink]) -> None:
    """Run every sink on ``df``, each in its own thread, and wait for all
    of them; then raise one error naming the failed and the completed
    sinks. ``InheritableThread`` carries the caller's Spark local
    properties (its job group) into each sink's jobs, which a plain
    thread drops in PySpark's pinned-thread mode. No sink is cancelled.

    The first sink starts alone: the others start once it has submitted
    a Spark job (polled every 1 ms through a job tag set in its thread
    only) or once its thread has ended, whichever comes first. No
    scheduler preempts a running task, so the job submitted first keeps
    the task slots it gets. Started together, the CSV writer won that
    race in every measured load: the JDBC writer opens a connection and
    checks the table before it submits its job (37-50 ms on embedded
    Derby, against 22-25 ms), so the CSV tasks took every slot and the
    one JDBC task, the load's longest, waited ~100 ms for one."""
    errors: dict[str, Exception] = {}
    sc = df.sparkSession.sparkContext
    lead_tag = f"fits2db-lead-sink-{uuid.uuid4().hex}"

    def attempt(name: str, write, tag: str | None) -> None:
        try:
            if tag:
                sc.addJobTag(tag)
            write(df)
        except Exception as e:  # reported after every sink has ended
            errors[name] = e

    threads = [
        InheritableThread(
            attempt, args=(*sink, None if i else lead_tag), name=f"fits2db-sink-{sink[0]}"
        )
        for i, sink in enumerate(sinks)
    ]
    lead, *rest = threads
    lead.start()
    tracker = sc._jsc.sc().statusTracker()
    while rest and lead.is_alive() and not len(tracker.getJobIdsForTag(lead_tag)):
        lead.join(0.001)
    for t in rest:
        t.start()
    for t in threads:
        t.join()
    if errors:
        failed = [name for name, _ in sinks if name in errors]
        completed = [name for name, _ in sinks if name not in errors]
        raise ExceptionGroup(
            f"sinks failed: {', '.join(failed)}; "
            f"completed: {', '.join(completed) or 'none'}",
            [errors[name] for name in failed],
        )


def main() -> None:
    sys.exit(run(sys.argv[1:]))
