"""FITS as a Spark data source: ``spark.read.format("fits")`` and
``spark.readStream.format("fits")`` (Spark 4 Python DataSource API).

    spark.read.format("fits").option("hdu", 1).load("/data/catalog/*.fits")

A thin adapter over ``sources/fits.py``'s read core, shared with
``read_fits``. Its options are ``path`` and ``hdu``. ``schema()`` reads the
first file's header blocks and nothing else, TUNIT/TDISP metadata
included. Batch planning runs ``plan_fits``: it expands the path, reads
every file's header and checks each file's columns by name against the
declared schema, so a missing, extra or retyped column or a truncated file
fails before any task starts. A stream plans one partition per new file and
checks that file the same way in its task. Every task decodes its rows with
``to_batch``, which binds them to the schema by name.

Shipping: :func:`register` pickles this module by value, because Spark 4.1's
streaming planning runner unpickles the source without the session's
``pyFiles`` on its path. The code that runs there (the stream reader's
offsets and partitions) uses only the standard library and pyspark; every
use of the parser imports ``fits2db_spark.sources.fits`` when it is called,
in planner workers and executors, from the package zip that ``register``
ships.

Both transports stay: this one reads BINTABLEs only (its row-range
planning needs fixed-width rows), splits a large table into row ranges of
``spark.sql.files.maxPartitionBytes``, pushes filters down and streams; the
``binaryFile`` + ``mapInArrow`` transport behind ``read_fits`` and the CLI
reads every HDU kind and is faster at tile-sized files, but no file over
Spark's ``binaryFile`` length limit (2 GiB by default).
"""

from __future__ import annotations

import glob
import math
import os
import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


def resolve_paths(path: str | None) -> list[str]:
    """Expand one path — a file, a directory or a glob — into the sorted
    FITS files it names. A directory's hidden (``.``/``_``) files are
    skipped, as Spark's file sources skip them."""
    if not path:
        raise ValueError("a FITS read requires a path")
    path = path.removeprefix("file:")
    if os.path.isdir(path):
        path = os.path.join(path, "[!_.]*")
    return sorted(p for p in glob.glob(path) if os.path.isfile(p))


def _whole_tiles(rows: int, tile_len: int) -> int:
    """``rows`` rounded down to whole tiles, at least one tile."""
    return max(tile_len, rows - rows % tile_len)


class FitsInputPartition(InputPartition):
    """Rows ``[row_start, row_start + row_count)`` of one file's table, read
    in slices of ``batch_rows``."""

    def __init__(self, path: str, row_start: int, row_count: int, batch_rows: int):
        self.path = path
        self.row_start = row_start
        self.row_count = row_count
        self.batch_rows = batch_rows


def _row_ranges(plan, max_bytes: int, max_records: int) -> list[FitsInputPartition]:
    """Each planned file's rows as partitions of at most ``max_bytes`` of
    fixed-width rows: a multi-GB table reads in parallel because each task
    seeks straight to its byte range. A partition decodes in slices of
    ``max_records`` rows (<= 0: one slice). Partitions and slices hold whole
    tiles of a tile-compressed table, so no tile decompresses twice."""
    from fits2db_spark.sources.fits import FitsFormatError, _header_int

    if plan.kind != "BINTABLE":
        raise FitsFormatError(
            f'format("fits") reads BINTABLE HDUs; {plan.files[0][0]} selects '
            f"{plan.kind}, which read_fits loads"
        )
    parts = []
    for p, h in plan.files:
        cards = h.cards
        if cards.get("ZTABLE", "").strip() == "T":
            # the container's NAXIS2 counts tiles, but decode_bintable_range
            # addresses original rows: plan in original-row space
            nrows = _header_int(cards, "ZNAXIS2")
            rowbytes = _header_int(cards, "ZNAXIS1")
            tile_len = _header_int(cards, "ZTILELEN")
        else:
            nrows = _header_int(cards, "NAXIS2")
            rowbytes = _header_int(cards, "NAXIS1")
            tile_len = 1
        rows_per_part = _whole_tiles(max_bytes // max(rowbytes, 1), tile_len)
        batch_rows = rows_per_part
        if 0 < max_records < rows_per_part:
            batch_rows = _whole_tiles(max_records, tile_len)
        for start in range(0, max(nrows, 1), rows_per_part):
            parts.append(FitsInputPartition(p, start, min(rows_per_part, nrows - start), batch_rows))
    return parts


def _read_range(part: FitsInputPartition, hdu, schema, pushed=()):
    """Decode one partition's rows, one Arrow batch per slice, keeping the
    rows that satisfy every ``pushed`` (column, comparison, value)."""
    from fits2db_spark.sources.fits import decode_bintable_range, to_batch

    end = part.row_start + part.row_count
    for start in range(part.row_start, end, part.batch_rows):
        decoded = decode_bintable_range(part.path, hdu, start, min(part.batch_rows, end - start))
        yield _filter(to_batch(schema, decoded, part.path), pushed)


def _filter(batch, pushed):
    if not pushed:
        return batch
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for name, kind, value in pushed:
        col = batch.column(batch.schema.get_field_index(name))
        # Spark orders NaN ABOVE every numeric (so NaN > v holds for any
        # finite v) while IEEE comparisons on NaN are all false. Catalyst
        # drops its own re-evaluation of fully-pushed predicates, so the
        # mask must reproduce Spark's ordering: NaN is the standard FITS
        # floating-point null. (NaN literals are never pushed.)
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


class FitsReader(DataSourceReader):
    """Batch reads: row-range partitions (:func:`_row_ranges`) of the
    files :func:`plan_fits` checks on the driver, and filter pushdown."""

    # comparisons behave correctly under these Spark/Arrow scalar types;
    # nested/binary/VLA columns stay Spark-side
    _PUSHABLE_TYPES = frozenset(
        {"tinyint", "smallint", "int", "bigint", "float", "double", "string", "boolean"}
    )

    def __init__(self, options, schema, max_records: int, max_bytes: int):
        self._path = options.get("path")
        self._hdu = options.get("hdu", 1)
        self._schema = schema
        self._max_records = max_records
        self._max_bytes = max_bytes
        self._pushed: list[tuple[str, str, object]] = []

    def pushFilters(self, filters):
        """Accept EqualTo / GreaterThan / LessThan on flat scalar columns and
        apply them in ``read`` on the decoded Arrow batch, so rows are
        dropped before they cross the Python->JVM Arrow channel. Other
        filters are yielded back for Spark to evaluate after the scan."""
        by_name = {f.name: f.dataType.simpleString() for f in self._schema.fields}
        for flt in filters:
            kind = type(flt).__name__
            attr = getattr(flt, "attribute", None)
            value = getattr(flt, "value", None)
            # A NaN literal (NaN = NaN true, NaN greatest in Spark) has no
            # single Arrow compare kernel: Spark evaluates it.
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

    def partitions(self):
        from fits2db_spark.sources.fits import plan_fits

        plan = plan_fits(self._path, self._hdu, schema=self._schema)
        return _row_ranges(plan, self._max_bytes, self._max_records)

    def read(self, partition):
        return _read_range(partition, self._hdu, self._schema, self._pushed)


class FitsStreamPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class FitsStreamReader(DataSourceStreamReader):
    """Streaming FITS directory source: each micro-batch reads the files
    that no earlier batch read. The offset is ``{"seen": [paths]}``, the
    sorted files listed so far, so replaying a batch reads exactly its
    files again (exactly-once sinks rely on that). ``partitions`` plans
    one partition per new file; its task checks the file against the
    schema and decodes it like a batch read. A file deleted from the
    directory drops out of the next offset."""

    def __init__(self, options, schema, max_records: int):
        self._path = options.get("path")
        self._hdu = options.get("hdu", 1)
        self._schema = schema
        self._max_records = max_records

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {"seen": resolve_paths(self._path)}

    def partitions(self, start: dict, end: dict):
        done = set(start["seen"])
        return [FitsStreamPartition(p) for p in end["seen"] if p not in done]

    def read(self, partition):
        from fits2db_spark.sources.fits import plan_fits

        plan = plan_fits([partition.path], self._hdu, schema=self._schema)
        for part in _row_ranges(plan, sys.maxsize, self._max_records):
            yield from _read_range(part, self._hdu, self._schema)


class FitsDataSource(DataSource):
    # register() sets both from the registering session; the planning
    # runners that build readers have no session to ask
    max_records_per_batch = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch
    max_partition_bytes = 128 << 20  # spark.sql.files.maxPartitionBytes

    @classmethod
    def name(cls) -> str:
        return "fits"

    def schema(self):
        from fits2db_spark.sources.fits import header_schema

        paths = resolve_paths(self.options.get("path"))
        if not paths:
            raise FileNotFoundError(f"no FITS files match {self.options.get('path')!r}")
        return header_schema(paths[0], self.options.get("hdu", 1))

    def reader(self, schema):
        return FitsReader(self.options, schema, self.max_records_per_batch, self.max_partition_bytes)

    def streamReader(self, schema):
        return FitsStreamReader(self.options, schema, self.max_records_per_batch)


def register(spark) -> None:
    """Register the ``fits`` format on a session (idempotent).

    Ships the package zip that executors import the parser from, turns on
    ``spark.sql.python.filterPushdown.enabled`` (``session._RUNTIME_CONFS``)
    and pickles this module by value (see the module docstring). The
    session's ``spark.sql.execution.arrow.maxRecordsPerBatch`` and
    ``spark.sql.files.maxPartitionBytes`` are read here, on the driver, and
    travel in that pickle; a later change to either takes effect at the
    next ``register``."""
    from pyspark import cloudpickle

    from ..session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    FitsDataSource.max_records_per_batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    FitsDataSource.max_partition_bytes = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    spark.dataSource.register(FitsDataSource)
