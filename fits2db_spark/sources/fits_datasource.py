"""FITS as a Spark data source: ``spark.read.format("fits")`` and
``spark.readStream.format("fits")`` (Spark 4 Python DataSource API).

    spark.read.format("fits").option("hdu", 1).load("/data/catalog/*.fits")

This module is only the DataSource adapter; the read itself is
``sources/fits.py``'s core, shared with ``read_fits``. ``schema()`` reads
the first file's header blocks and nothing else. Planning runs
``plan_fits`` on the driver: it expands the path, reads every file's header
and checks each file's columns by name against the declared schema, so a
missing, extra or retyped column or a truncated file fails before any task
starts. Each task decodes its rows and binds them to the schema by name, so
files that order their columns differently load correctly.

Both transports stay: this one reads BINTABLEs only (its row-range
planning needs fixed-width rows), splits a large table into row ranges and
supports filter pushdown and ``readStream``; the ``binaryFile`` +
``mapInArrow`` transport behind ``read_fits`` and the CLI reads every HDU
kind and is faster at tile-sized files, but no file over Spark's
``binaryFile`` length limit (2 GiB by default).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# Module-level imports ONLY for the sibling parser: the streaming runner
# executes this class from a by-value pickle (see register()), where a
# call-time ``from .fits import ...`` would re-enter the real import
# system and fail — module-scope names are captured into the pickle.
from .fits import (
    FitsFormatError,
    _header_int,
    decode_bintable,
    decode_bintable_range,
    header_schema,
    plan_fits,
    resolve_paths,
    to_batch,
)


def _whole_tiles(rows: int, tile_len: int) -> int:
    """``rows`` rounded down to whole tiles, at least one tile."""
    return max(tile_len, rows - rows % tile_len)


class FitsInputPartition(InputPartition):
    def __init__(self, path: str, row_start: int, row_count: int, batch_rows: int):
        self.path = path
        self.row_start = row_start
        self.row_count = row_count
        self.batch_rows = batch_rows


class FitsBaseReader(DataSourceReader):
    """Plans one partition per ~chunk_mb of fixed-width rows PER FILE (not
    per file): a single multi-GB BINTABLE reads in parallel because rows are
    fixed width, so each task seeks straight to its byte range. Planning
    is :func:`plan_fits`: a header-only probe and schema check per file
    (O(header blocks) I/O, no data). A task decodes its row range in slices
    of at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (read
    on the driver by :func:`register`; rounded to whole tiles for a
    tile-compressed table), one Arrow batch each, so a partition holds one
    slice at a time and a ``limit`` stops after the slices it needs.

    This base class deliberately does NOT implement pushFilters: Spark 4.1
    refuses to run a pushFilters-implementing reader unless
    spark.sql.python.filterPushdown.enabled is on, so a single class would
    make every plain ``format("fits")`` read depend on session conf state.
    Pushdown is opt-in via ``.option("pushdown", "true")`` (see
    FitsDataSourceReader / FitsDataSource.reader)."""

    def __init__(self, options, schema, max_records_per_batch: int = 0):
        """``max_records_per_batch`` <= 0 yields each partition as one batch."""
        self._path = options.get("path")
        self._max_records = max_records_per_batch
        self._hdu = options.get("hdu", 1)
        self._schema = schema
        self._chunk_bytes = int(float(options.get("chunk_mb", 64)) * 1024 * 1024)
        self._pushed: list[tuple[str, str, object]] = []

    def _apply_pushed(self, batch):
        if not self._pushed:
            return batch
        import pyarrow as pa
        import pyarrow.compute as pc

        mask = None
        for name, kind, value in self._pushed:
            col = batch.column(batch.schema.get_field_index(name))
            # Spark SQL NaN semantics differ from Arrow's IEEE kernels: Spark
            # orders NaN ABOVE every numeric (so NaN > v holds for any finite
            # v) while IEEE comparisons on NaN are all false.  Catalyst drops
            # its own re-evaluation of fully-pushed predicates, so the pushed
            # mask must reproduce Spark's ordering exactly — NaN is the
            # standard FITS floating-point null, it WILL appear in real data.
            # (NaN literals are never pushed; see pushFilters.)
            if kind == "EqualTo":
                cond = pc.equal(col, value)  # NaN = finite is false in both
            elif kind == "GreaterThan":
                cond = pc.greater(col, value)
                if pa.types.is_floating(col.type):
                    cond = pc.or_(cond, pc.is_nan(col))
            else:  # LessThan: NaN < finite is false in both engines
                cond = pc.less(col, value)
            mask = cond if mask is None else pc.and_(mask, cond)
        # SQL semantics: a null comparison never satisfies the predicate
        return batch.filter(pc.coalesce(mask, pa.scalar(False)))

    def partitions(self):
        plan = plan_fits(self._path, self._hdu, schema=self._schema)
        if plan.kind != "BINTABLE":
            raise FitsFormatError(
                f'format("fits") reads BINTABLE HDUs; {plan.files[0][0]} selects '
                f"{plan.kind}, which read_fits loads"
            )
        parts = []
        for p, h in plan.files:
            cards = h.cards
            if cards.get("ZTABLE", "").strip() == "T":
                # tile-compressed table: the container's NAXIS2 counts TILES,
                # but decode_bintable_range addresses ORIGINAL rows — plan in
                # original-row space (ZNAXIS1/ZNAXIS2)
                nrows = _header_int(cards, "ZNAXIS2")
                rowbytes = _header_int(cards, "ZNAXIS1")
                tile_len = _header_int(cards, "ZTILELEN")
            else:
                nrows = _header_int(cards, "NAXIS2")
                rowbytes = _header_int(cards, "NAXIS1")
                tile_len = 1
            # chunks and slices hold whole tiles, so no tile decompresses
            # in two tasks or in two slices
            rows_per_chunk = _whole_tiles(self._chunk_bytes // max(rowbytes, 1), tile_len)
            batch_rows = rows_per_chunk
            if 0 < self._max_records < rows_per_chunk:
                batch_rows = _whole_tiles(self._max_records, tile_len)
            start = 0
            while start < max(nrows, 1):
                parts.append(
                    FitsInputPartition(p, start, min(rows_per_chunk, nrows - start), batch_rows)
                )
                start += rows_per_chunk
                if nrows == 0:
                    break
        return parts

    def read(self, partition):
        end = partition.row_start + partition.row_count
        for start in range(partition.row_start, end, partition.batch_rows):
            decoded = decode_bintable_range(
                partition.path, self._hdu, start, min(partition.batch_rows, end - start)
            )
            yield self._apply_pushed(to_batch(self._schema, decoded, partition.path))


class FitsDataSourceReader(FitsBaseReader):
    """FitsBaseReader + Spark 4.1 filter pushdown.  Selected only when the
    read asks for it (``.option("pushdown", "true")``) because Spark
    refuses to run any pushFilters-implementing reader while
    spark.sql.python.filterPushdown.enabled is off — the caller opting in
    is responsible for having that conf on for the read."""

    # comparisons behave correctly under these Spark/Arrow scalar types;
    # nested/binary/VLA columns stay Spark-side
    _PUSHABLE_TYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "float", "double",
         "string", "boolean"}
    )

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown (spark.sql.python.filterPushdown.enabled):
        accept EqualTo / GreaterThan / LessThan on flat scalar columns and
        apply them inside read() on the decoded Arrow batch — rows are
        dropped BEFORE crossing the Python->JVM Arrow channel, which is the
        expensive edge of this source. Unsupported shapes are yielded back
        for Spark to evaluate post-scan (the API contract)."""
        import math

        by_name = {f.name: f.dataType.simpleString() for f in self._schema.fields}
        for flt in filters:
            kind = type(flt).__name__
            attr = getattr(flt, "attribute", None)
            value = getattr(flt, "value", None)
            # A NaN literal is the one comparison value whose Spark semantics
            # (NaN = NaN true, NaN greatest) can't be expressed as a single
            # Arrow compare kernel — yield it back for Spark to evaluate.
            nan_literal = isinstance(value, float) and math.isnan(value)
            if (
                kind in ("EqualTo", "GreaterThan", "LessThan")
                and attr is not None
                and len(attr) == 1
                and by_name.get(attr[0]) in self._PUSHABLE_TYPES
                and not nan_literal
            ):
                self._pushed.append((attr[0], kind, value))
            else:
                yield flt


class FitsDataSource(DataSource):
    # rows per Arrow batch a reader yields; register() sets it from the
    # registering session's spark.sql.execution.arrow.maxRecordsPerBatch
    max_records_per_batch = 10_000

    @classmethod
    def name(cls) -> str:
        return "fits"

    def schema(self):
        paths = resolve_paths(self.options.get("path"))
        if not paths:
            raise FileNotFoundError(f"no FITS files match {self.options.get('path')!r}")
        schema = header_schema(paths[0], self.options.get("hdu", 1))
        # Strip TUNIT/TDISP column metadata at the DataSource boundary:
        # Spark 4.1's SimpleDataSourceStreamReader runner fails its Arrow
        # batch assertion whenever the declared schema carries ANY
        # StructField metadata (minimal repro in
        # tests/test_streaming_live.py::test_datasource_schema_is_metadata_free
        # — plain schema streams fine, one metadata key dies with
        # INTERNAL_ERROR at PythonStreamingSourceRunner.readArrowRecordBatches).
        # Header-convention metadata stays on the read_fits path, which is
        # where format_tdisp and the VOTable sink consume it.
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
        )

    def reader(self, schema):
        if str(self.options.get("pushdown", "")).lower() in ("1", "true", "yes"):
            return FitsDataSourceReader(self.options, schema, self.max_records_per_batch)
        return FitsBaseReader(self.options, schema, self.max_records_per_batch)

    def simpleStreamReader(self, schema):
        return FitsSimpleStreamReader(self.options, schema)


def register(spark) -> None:
    """Register the 'fits' format on a session (idempotent).

    The DataSource class is shipped BY VALUE: batch Python-datasource
    workers resolve modules through the addPyFile zip, but the Spark 4.1
    STREAMING planning runner (PythonStreamingSourceRunner) does not put
    pyFiles on its path — a `readStream.format("fits")` from a process
    whose cwd can't import this package dies with ModuleNotFoundError
    (caught by the foreign-cwd driver sim, r12). register_pickle_by_value
    on the two self-contained source modules makes every pickle of the
    class carry its code, so no runner-side import is needed. The parser
    modules depend only on stdlib/numpy/pyspark. The session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is read here, on the
    driver, and travels in that pickle as the readers' batch size: the
    planning runner that builds a reader has no session to ask."""
    from pyspark import cloudpickle

    from ..session import ensure_runtime_confs
    from . import fits, fits_compress
    import sys

    ensure_runtime_confs(spark)  # executors must be able to import the parser
    cloudpickle.register_pickle_by_value(fits)
    cloudpickle.register_pickle_by_value(fits_compress)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    FitsDataSource.max_records_per_batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    spark.dataSource.register(FitsDataSource)


class FitsSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming FITS directory source: each micro-batch picks up FITS files
    not seen by a previous batch — `readStream.format("fits")` is the
    streaming version of the reference's loader (watch an archive directory,
    land rows continuously into a DB via foreachBatch + the JDBC sink).

    Offsets record the set of processed file paths, which keeps replay exact
    (readBetweenOffsets re-decodes precisely the files of that batch —
    required for exactly-once sinks). A production-hardened variant would
    compact the seen-set into a retention-bounded log the way Spark's own
    FileStreamSource does; the contract here is identical."""

    def __init__(self, options, schema):
        self._options = options
        self._schema = schema
        self._hdu = options.get("hdu", 1)
        self._path = options.get("path")

    def initialOffset(self) -> dict:
        return {"seen": []}

    def _rows_for(self, paths):
        # returns a LIST iterator: the simple-stream runner caches and
        # copy.copy()s the batch iterator (generators are not copyable)
        rows = []
        for p in sorted(paths):
            batch = to_batch(self._schema, decode_bintable(p, self._hdu), p)
            rows.extend(tuple(rec.values()) for rec in batch.to_pylist())
        return iter(rows)

    def read(self, start: dict):
        current = resolve_paths(self._path)
        seen = set(start.get("seen", []))
        new = [p for p in current if p not in seen]
        end = {"seen": sorted(seen | set(new))}
        return self._rows_for(new), end

    def readBetweenOffsets(self, start: dict, end: dict):
        batch = set(end.get("seen", [])) - set(start.get("seen", []))
        return self._rows_for(batch)
