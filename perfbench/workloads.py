"""The benchmark's three workloads.

Each workload runs in its own process on a session built by the program's
own ``session.get_spark()`` with no overrides, driven by one closed-loop
client: the next operation starts when the previous one has returned.

* ``fits_load`` — the reference tool's purpose and the only write path:
  ``cli.run`` loads a seeded FITS tile set into a DDL file, a CSV directory
  and an embedded Derby table (``--mode create`` once, then ``append``, the
  way a survey catalog is loaded tile by tile).  Exercises ``sources.fits``,
  ``cli`` and ``sinks.*``; no program cache ever holds its inputs.
* ``sql_analytics`` — interactive relational reads over fixtures that
  ``tables.warm_cache`` holds in memory: ``operators.{aggregates,joins,
  windows,sql_api,streaming_batch}`` and Spark task scheduling, with no
  Python workers and no sinks.
* ``llm_pipeline`` — batch text/vector operators over plain parquet scans,
  with every operator memo freed before each pass so a pass rebuilds and
  shares them, as a batch run over a corpus does: dominated by driver-side
  construction in ``operators.{llm_text,llm_vectors,retrieval,joins}``.
"""

from __future__ import annotations

import contextlib
import os
import random
import re
import runpy
import shutil
import time
import traceback
from dataclasses import dataclass, field

import fitsgen
from measure import JobCounter, Tracer

SQL_KEYS = (
    "agg_groupby",
    "join_sortmerge",
    "join_star_q5",
    "win_topk_per_group",
    "stream_session",
    "join_asof",
    "sql_tpch_q9",
)
LLM_KEYS = (
    "dedup_exact_text",
    "text_tokenize_counts",
    "dedup_near_minhash",
    "text_bm25",
    "er_golden_record",
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "sim_ann_lsh",
    "dedup_semantic_clusters",
)

# The project's read-only fixtures, identical for every seed (the seed only
# orders the operations of each pass): sf0.1 for the benchmark, sf0.001 for
# the self-check.
FIXTURES, QUICK_FIXTURES = "sf0.1", "sf0.001"


def fixture_dir(scale: str) -> str:
    """Where the project's tests read their fixtures (tests/conftest.py)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conftest = runpy.run_path(os.path.join(root, "tests", "conftest.py"))
    return os.path.join(os.path.dirname(conftest["SF_SMOKE"]), scale)

# Tile-set size for fits_load: about 3 MB of FITS per load, one file five
# times the size of the others.  Loads are dominated by the JDBC sink.
TILE_ROWS, TILE_FILES, TILE_BIG = 60_000, 11, 5
QUICK_TILE_ROWS, QUICK_TILE_FILES = 2_000, 4
# Loads keep getting faster for the first few (2.5 s -> 1.7 s on 4 cores)
# as the JVM compiles the write path, so the warm-up is the create load plus
# this many appends.
WARMUP_APPENDS = 3
# sql_analytics passes keep speeding up after the first: with one warm-up
# pass identical runs differed by a fifth in ops_per_s, with two by a tenth.
SQL_WARMUP_PASSES = 2

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TABLE = "catalog"


@dataclass
class Op:
    """One completed operation of the timed window."""

    key: str
    latency_s: float
    input_rows: int
    build_s: float | None = None
    exec_s: float | None = None
    failed: bool = False
    counts: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    jobs: JobCounter | None
    rng: random.Random
    phase: str = "warmup"


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def storage_bytes(spark) -> int:
    """Bytes the block manager holds for persisted or checkpointed data."""
    return sum(r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())


class QueryWorkload:
    """Passes over registry queries; one operation is the registry call
    (build) plus a noop-sink action (exec)."""

    def __init__(self, keys: tuple[str, ...], sf_dir: str, warm_cache: bool, warmup_passes: int):
        self.keys = keys
        self.sf_dir = sf_dir
        self.warm_cache = warm_cache
        self.warmup_passes = warmup_passes
        self.results: dict[str, tuple | None] = {}
        self.storage: list[int] = []

    def prepare(self, work_dir: str) -> None:
        """Benchmark-side input facts: rows and bytes of each fixture table."""
        import pyarrow.parquet as pq

        self.table_rows, self.table_bytes = {}, {}
        for entry in sorted(os.listdir(self.sf_dir)):
            t, ext = os.path.splitext(entry)
            if ext == ".parquet":
                path = os.path.join(self.sf_dir, entry)
                self.table_rows[t] = pq.read_metadata(path).num_rows
                self.table_bytes[t] = os.path.getsize(path)

    def setup(self, ctx: Ctx) -> None:
        from fits2db_spark import tables
        from fits2db_spark.registry import all_oracles, all_queries

        self.queries = all_queries()
        oracles = all_oracles()
        self.oracles = {k: oracles[k] for k in self.keys}
        self.modules = {
            k: getattr(self.queries[k], "__wrapped__", self.queries[k]).__module__.rsplit(".", 1)[-1]
            for k in self.keys
        }
        # an operation's input rows are those of the tables its oracle reads
        op_tables = {
            k: {t for t in self.table_rows if re.search(rf"\b{t}\b", self.oracles[k])}
            for k in self.keys
        }
        self.op_rows = {k: sum(self.table_rows[t] for t in op_tables[k]) for k in self.keys}
        read = set(tables.TABLE_NAMES) if self.warm_cache else set().union(*op_tables.values())
        self.input_bytes = sum(self.table_bytes[t] for t in read)
        if self.warm_cache:
            with ctx.tracer.span("tables.warm_cache"):
                tables.warm_cache(ctx.spark, self.sf_dir)

    def _op(self, ctx: Ctx, key: str, collect: bool) -> Op:
        op = Op(key, 0.0, self.op_rows[key])
        with ctx.tracer.span("op", key=key, module=self.modules[key], phase=ctx.phase):
            group = ctx.jobs.group(op.counts) if ctx.jobs else contextlib.nullcontext()
            with group:
                t0 = time.perf_counter()
                with ctx.tracer.span("build"):
                    df = self.queries[key](ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                with ctx.tracer.span("exec"):
                    if collect:
                        rows, cols = df.collect(), df.columns
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        op.build_s, op.exec_s, op.latency_s = t1 - t0, t2 - t1, t2 - t0
        if collect:
            from oracle import canonical

            self.results[key] = canonical(rows, cols)
        return op

    def _order(self, ctx: Ctx) -> list[str]:
        keys = list(self.keys)
        ctx.rng.shuffle(keys)
        return keys

    def warmup(self, ctx: Ctx) -> None:
        """Untimed passes.  The first collects the results the check judges;
        any further ones run as timed passes do."""
        for key in self._order(ctx):
            try:
                self._op(ctx, key, collect=True)
            except Exception:
                traceback.print_exc()
                self.results[key] = None
        for _ in range(self.warmup_passes - 1):
            self.before_pass(ctx)
            self.timed_pass(ctx)

    def before_pass(self, ctx: Ctx) -> None:
        if not self.warm_cache:
            from fits2db_spark import session

            session.free_memo_checkpoints()

    def timed_pass(self, ctx: Ctx) -> list[Op]:
        ops = []
        with ctx.tracer.span("pass", phase=ctx.phase):
            for key in self._order(ctx):
                t0 = time.perf_counter()
                try:
                    ops.append(self._op(ctx, key, collect=False))
                except Exception:
                    traceback.print_exc()
                    ops.append(Op(key, time.perf_counter() - t0, 0, failed=True))
        return ops

    def after_pass(self, ctx: Ctx) -> None:
        self.storage.append(storage_bytes(ctx.spark))

    def check(self, ctx: Ctx) -> set[str]:
        """Keys whose warm-up result differs from the DuckDB oracle."""
        from oracle import oracle_results, same

        with ctx.tracer.span("verify"):
            expected = oracle_results(self.sf_dir, list(self.table_rows), self.oracles)
        bad = set()
        for k in self.keys:
            got = self.results.get(k)
            if got is None or not same(got, expected[k]):
                summary = got and (got[0], len(got[1]))
                print(f"check FAILED {k}: got {summary}, expected {expected[k][0]}, {len(expected[k][1])} rows")
                bad.add(k)
        return bad

    def layer_probes(self, spark, tracer: Tracer) -> dict[str, float]:
        return {}

    def stored_bytes_per_input_byte(self) -> float:
        """Cache and memo blocks the program holds per fixture byte read."""
        self.storage.sort()
        return self.storage[len(self.storage) // 2] / self.input_bytes


class FitsLoadWorkload:
    """Each operation is one ``cli.run`` of the seeded tile set into DDL,
    CSV and Derby; loads after the first append to the same table."""

    keys = ("load",)

    def __init__(self, seed: int, quick: bool):
        self.seed = seed
        self.quick = quick
        self.loads = 0

    def prepare(self, work_dir: str) -> None:
        self.work = os.path.join(work_dir, "fits_load")
        shutil.rmtree(self.work, ignore_errors=True)
        rows, files = (QUICK_TILE_ROWS, QUICK_TILE_FILES) if self.quick else (TILE_ROWS, TILE_FILES)
        self.tiles = fitsgen.generate(os.path.join(self.work, "tiles"), self.seed, rows, files, TILE_BIG)
        self.input_bytes = self.tiles.input_bytes
        self.db = os.path.join(self.work, "derby", "db")
        self.csv_out = os.path.join(self.work, "csv")
        self.sql_out = os.path.join(self.work, "catalog.sql")

    def argv(self, mode: str) -> list[str]:
        return [
            self.tiles.glob,
            "--table", TABLE,
            "--create", "--sql-out", self.sql_out,
            "--csv-out", self.csv_out,
            "--jdbc-url", f"jdbc:derby:{self.db};create=true",
            "--jdbc-driver", DERBY_DRIVER,
            "--mode", mode,
        ]

    def setup(self, ctx: Ctx) -> None:
        pass

    def _load(self, ctx: Ctx, mode: str) -> Op:
        from fits2db_spark import cli

        op = Op("load", 0.0, self.tiles.rows)
        argv = self.argv(mode)
        with ctx.tracer.span("load", phase=ctx.phase):
            group = ctx.jobs.group(op.counts) if ctx.jobs else contextlib.nullcontext()
            with group:
                t0 = time.perf_counter()
                if ctx.tracer.enabled:
                    op.build_s, op.exec_s = _traced_cli_run(argv, ctx.spark, ctx.tracer)
                else:
                    cli.run(argv, ctx.spark)
                op.latency_s = time.perf_counter() - t0
        self.loads += 1
        return op

    def warmup(self, ctx: Ctx) -> None:
        self._load(ctx, "create")
        for _ in range(WARMUP_APPENDS):
            self._load(ctx, "append")

    def before_pass(self, ctx: Ctx) -> None:
        pass

    def timed_pass(self, ctx: Ctx) -> list[Op]:
        t0 = time.perf_counter()
        try:
            return [self._load(ctx, "append")]
        except Exception:
            traceback.print_exc()
            return [Op("load", time.perf_counter() - t0, 0, failed=True)]

    def after_pass(self, ctx: Ctx) -> None:
        pass

    def check(self, ctx: Ctx) -> set[str]:
        """Read the Derby table back through JDBC and count the CSV rows."""
        spark = ctx.spark
        with ctx.tracer.span("verify"):
            got = (
                spark.read.format("jdbc")
                .option("url", f"jdbc:derby:{self.db}")
                .option("driver", DERBY_DRIVER)
                .option("query", f'SELECT COUNT(*) AS n, SUM("id") AS s FROM {TABLE}')
                .load()
                .collect()[0]
            )
            csv_rows = spark.read.option("header", True).csv(self.csv_out).count()
            with open(self.sql_out) as f:
                ddl = f.read()
        want = (self.loads * self.tiles.rows, self.loads * self.tiles.id_sum)
        problems = []
        if (int(got[0]), int(got[1])) != want:
            problems.append(f"derby rows/id-sum {tuple(got)} != {want}")
        if csv_rows != self.tiles.rows:
            problems.append(f"csv rows {csv_rows} != {self.tiles.rows}")
        if not re.search(rf'CREATE TABLE "?{TABLE}"?', ddl):
            problems.append("DDL file lacks CREATE TABLE")
        for p in problems:
            print(f"check FAILED load: {p}")
        self._shutdown_derby(spark)
        return {"load"} if problems else set()

    def _shutdown_derby(self, spark) -> None:
        """Shut the embedded database down so its pages are on disk before
        its size is taken; Derby reports a clean shutdown as SQLState 08006."""
        from py4j.protocol import Py4JJavaError

        try:
            spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{self.db};shutdown=true")
        except Py4JJavaError as e:
            if "08006" not in str(e.java_exception.getSQLState()):
                raise

    def stored_bytes_per_input_byte(self) -> float:
        """Derby database plus CSV output on disk per FITS byte they hold:
        Derby holds every load, the CSV directory the latest one."""
        stored = _dir_bytes(os.path.dirname(self.db)) + _dir_bytes(self.csv_out)
        return stored / ((self.loads + 1) * self.input_bytes)

    def layer_probes(self, spark, tracer: Tracer) -> dict[str, float]:
        """Source-layer probes over the tile set: in-process decode rate and
        the Spark read of the same files."""
        from fits2db_spark.sources.fits import decode_bintable, read_fits

        with tracer.span("sources.fits.decode"):
            t0 = time.perf_counter()
            for path in self.tiles.files:
                with open(path, "rb") as f:
                    decode_bintable(f.read())
            decode_s = time.perf_counter() - t0
        with tracer.span("sources.fits.read"):
            t0 = time.perf_counter()
            n = read_fits(spark, self.tiles.glob).count()
            read_s = time.perf_counter() - t0
        if n != self.tiles.rows:
            raise RuntimeError(f"read_fits counted {n} rows, expected {self.tiles.rows}")
        return {
            "sources.fits.decode_mb_per_s": self.input_bytes / 1e6 / decode_s,
            "sources.fits.read_s": read_s,
        }


def _traced_cli_run(argv: list[str], spark, tracer: Tracer) -> tuple[float, float]:
    """The calls ``cli.run`` makes for these options, in its order, each in
    its own span.  Returns (build seconds, exec seconds)."""
    from fits2db_spark import cli
    from fits2db_spark.sinks.csv_sink import write_csv
    from fits2db_spark.sinks.jdbc import write_jdbc

    args = cli.build_parser().parse_args(argv)
    t0 = time.perf_counter()
    with tracer.span("cli.load_frame"):
        df = cli.load_frame(spark, args)
    t1 = time.perf_counter()
    with tracer.span("cli.emit_ddl"):
        with open(args.sql_out, "w") as f:
            cli.emit_ddl(df.schema, args, f)
    with tracer.span("sinks.csv_sink.write_csv"):
        write_csv(
            df,
            args.csv_out,
            delimiter=args.delimiter,
            null_marker=args.null_marker,
            single_file=args.single_file,
        )
    with tracer.span("sinks.jdbc.write_jdbc"):
        write_jdbc(
            df,
            args.jdbc_url,
            args.table,
            mode=args.mode,
            dialect=args.dialect,
            batchsize=args.batchsize,
            num_partitions=args.num_partitions,
            driver=args.jdbc_driver,
        )
    return t1 - t0, time.perf_counter() - t1


def make(name: str, seed: int, quick: bool):
    if name == "fits_load":
        return FitsLoadWorkload(seed, quick)
    sf_dir = fixture_dir(QUICK_FIXTURES if quick else FIXTURES)
    if name == "sql_analytics":
        return QueryWorkload(SQL_KEYS, sf_dir, warm_cache=True, warmup_passes=SQL_WARMUP_PASSES)
    if name == "llm_pipeline":
        return QueryWorkload(LLM_KEYS, sf_dir, warm_cache=False, warmup_passes=1)
    raise ValueError(f"unknown workload {name!r}")

