"""FITS ingest — the reference's core capability (SURVEY.md §1.1, §2.A
fits_ingest), built Spark-first on a pure-numpy FITS parser (FITS is a
public fixed-format standard: 2880-byte header/data blocks, 80-char header
cards, big-endian fixed-width binary table rows).

Every reader goes through one read core:

* one HDU walk (:func:`_walk_hdus`) over a block reader that serves bytes
  in memory and files on disk alike, reading header blocks only;
* one plan on the driver (:func:`plan_fits`): expand paths and globs, read
  each file's header, declare the schema from the first header (never
  inferred from data) and check every file against it — column names,
  types and byte size — before any Spark job;
* one decode to Arrow (:func:`to_batch`) that binds columns by name.

The selected HDU's header picks the decoder (:func:`_kind`): a BINTABLE
(tile-compressed included), an ASCII TABLE, or a 2-D or 3-D IMAGE as one
row per pixel or voxel. No caller names the kind; a read whose files
select different kinds fails in the plan. Two transports carry the core:
``binaryFile`` + ``mapInArrow`` (:func:`read_fits` and the CLI, one task
per file, every kind; faster at tile-sized files) and the Python
DataSource (``format("fits")``, a thin adapter in ``fits_datasource.py``,
BINTABLEs only: row-range splits, filter pushdown, streaming). Both decode
on executors, which import this module from the package zip that
``session.ensure_runtime_confs`` ships.
BINTABLE type map per SURVEY.md §1.2:

    L -> boolean   X -> binary(bitfield)  B -> short (unsigned byte)
    I -> short     J -> int               K -> long
    E -> float     D -> double            A<n> -> string
    C -> struct<re:float,im:float>        M -> struct<re:double,im:double>
    rT (repeat>1) -> array<T>

Variable-length array columns (``PT(max)`` / ``QT(max)`` heap descriptors)
decode to ``ArrayType`` columns. Tile-compressed (fpack'd) BINTABLEs —
``ZTABLE = T`` — decode transparently via ``fits_compress``; ranged reads
touch only overlapped tiles. Row decode is vectorized numpy
(``np.frombuffer`` with a structured big-endian dtype), not per-row Python.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import re
from typing import Callable, NamedTuple

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

# path expansion lives in the DataSource adapter, the one module the
# streaming planning runner can run (see fits_datasource's docstring)
from .fits_datasource import resolve_paths

BLOCK = 2880
CARD = 80

_TFORM_RE = re.compile(r"^(\d*)([LXBIJKEDCM]|A\d*|[PQ].*)$")


def _complex_struct(t: DataType) -> StructType:
    """SURVEY.md §1.2: FITS complex (C = 2xfloat32, M = 2xfloat64) maps to
    struct<re,im> — SQL has no complex scalar, and a struct keeps the pair
    queryable (col.re / col.im) without the lossy split into two columns."""
    return StructType([StructField("re", t, True), StructField("im", t, True)])


# TFORM letter -> (numpy dtype char (big-endian), spark type)
_SCALAR_MAP: dict[str, tuple[str, DataType]] = {
    "L": ("S1", BooleanType()),
    "B": ("u1", ShortType()),
    "I": (">i2", ShortType()),
    "J": (">i4", IntegerType()),
    "K": (">i8", LongType()),
    "E": (">f4", FloatType()),
    "D": (">f8", DoubleType()),
    "C": (">c8", _complex_struct(FloatType())),
    "M": (">c16", _complex_struct(DoubleType())),
}


class FitsFormatError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Header parsing
# ---------------------------------------------------------------------------

def _card_value(raw: str) -> str:
    """Value field of one header card (text after ``= ``).

    Quoted strings are scanned to their CLOSING quote first — honoring the
    FITS ``''`` escape — before the ``/ comment`` separator is considered:
    a ``/`` inside a quoted value (common in unit/name strings like
    'erg/s/cm^2') is part of the value, not a comment marker."""
    s = raw.strip()
    if not s.startswith("'"):
        return s.split("/")[0].strip()
    # scan for the closing quote; '' is an escaped literal quote
    out = []
    i = 1
    while i < len(s):
        ch = s[i]
        if ch == "'":
            if i + 1 < len(s) and s[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            break  # closing quote — anything after (incl. /comment) ignored
        out.append(ch)
        i += 1
    return "".join(out).rstrip()


def _header_int(cards: dict, key: str) -> int:
    try:
        return int(cards[key])
    except KeyError as e:
        raise FitsFormatError(f"missing required card {key}") from e
    except ValueError as e:
        # a garbled numeric value (e.g. a corrupted byte in the card) is a
        # format error, not a programming error — callers rely on the typed
        # exception to distinguish "corrupt file" from a bug
        raise FitsFormatError(f"malformed integer card {key}={cards[key]!r}") from e


def _hdu_data_size(cards: dict) -> int:
    """Data-area byte count of one HDU per the FITS standard formula:
    ``(|BITPIX|/8) * GCOUNT * (PCOUNT + NAXIS1*...*NAXISn)`` — covering
    empty primaries, IMAGE extensions (BITPIX/8 factor and all axes), and
    BINTABLE/TABLE heaps (PCOUNT). The round-1 advisory found the previous
    table-only NAXIS1*NAXIS2 shortcut seeks to the wrong offset on files
    with a non-empty heap or image extensions."""
    naxis = _header_int(cards, "NAXIS")
    if naxis == 0:
        return 0
    axes = 1
    for a in range(1, naxis + 1):
        axes *= _header_int(cards, f"NAXIS{a}")
    bitpix = abs(_header_int(cards, "BITPIX"))
    gcount = _header_int(cards, "GCOUNT") if "GCOUNT" in cards else 1
    pcount = _header_int(cards, "PCOUNT") if "PCOUNT" in cards else 0
    return (bitpix // 8) * gcount * (pcount + axes)


class _Blocks(NamedTuple):
    """Byte-range reads over one FITS file, in memory or on disk."""

    read: Callable[[int, int], bytes]
    size: int


@contextlib.contextmanager
def _open_blocks(src):
    """``src`` is a file's bytes or its path. A path is read by seeks, so a
    caller that stops at the headers never reads a data area."""
    if isinstance(src, (bytes, bytearray, memoryview)):
        mem = memoryview(src)
        yield _Blocks(lambda off, n: mem[off : off + n], len(mem))
        return
    with open(src, "rb") as f:

        def read(off: int, n: int) -> bytes:
            f.seek(off)
            return f.read(n)

        yield _Blocks(read, os.fstat(f.fileno()).st_size)


class Hdu(NamedTuple):
    """One header-data unit: its index (primary = 0), header cards, byte
    offsets and unpadded data-area size."""

    index: int
    cards: dict
    header_off: int
    data_off: int
    data_size: int

    @property
    def end(self) -> int:
        """Offset of the next HDU: the data area padded to whole blocks."""
        return self.data_off + math.ceil(self.data_size / BLOCK) * BLOCK


def _parse_header(blocks: _Blocks, off: int) -> tuple[dict, int]:
    """Parse the header starting at ``off``; return (cards, data offset)."""
    cards: dict[str, str] = {}
    while True:
        block = bytes(blocks.read(off, BLOCK))
        off += BLOCK
        if len(block) < BLOCK:
            raise FitsFormatError("truncated header block")
        for i in range(0, BLOCK, CARD):
            card = block[i : i + CARD].decode("ascii", errors="replace")
            key = card[:8].strip()
            if key == "END":
                return cards, off
            if key and key not in ("COMMENT", "HISTORY") and card[8:10] == "= ":
                cards[key] = _card_value(card[10:])


def _walk_hdus(blocks: _Blocks):
    """Yield every HDU of a file in order, reading header blocks only; each
    data area is skipped by :func:`_hdu_data_size`, never read. This is the
    package's one HDU walk: selection, header probes, decode, the catalog
    and the checksums all go through it."""
    off, idx = 0, 0
    while off < blocks.size:
        cards, data_off = _parse_header(blocks, off)
        hdu = Hdu(idx, cards, off, data_off, _hdu_data_size(cards))
        yield hdu
        off, idx = hdu.end, idx + 1


def _find_hdu(blocks: _Blocks, hdu: int | str, want: str | None = None) -> tuple[Hdu, _Kind]:
    """Select an HDU by index (1 = the first extension; a numeric string is
    an index) or by EXTNAME, compared stripped and case-insensitively, and
    return it with the kind its header declares (which must be ``want`` if
    given)."""
    if isinstance(hdu, str) and hdu.strip().isdigit():
        hdu = int(hdu)
    name = hdu.strip().upper() if isinstance(hdu, str) else None
    for h in _walk_hdus(blocks):
        if h.index == hdu if name is None else h.cards.get("EXTNAME", "").strip().upper() == name:
            return h, _kind(h, want)
    raise FitsFormatError(f"HDU {hdu!r} not found")


def _check_size(blocks: _Blocks, h: Hdu, where: str) -> None:
    need = h.data_off + h.data_size
    if blocks.size < need:
        raise FitsFormatError(
            f"{where}: truncated: the header declares {need} bytes, the file has {blocks.size}"
        )


def parse_bintable_header(src, hdu: int | str = 1) -> tuple[dict, list[dict], int]:
    """Header-only probe of a BINTABLE given as bytes or a path; return
    (cards, columns, data_off). ``hdu`` selects the extension by 1-based
    index or EXTNAME.

    columns: [{name, tform, repeat, letter, spark_type, np_dtype,
               tnull, tscale, tzero}, ...]
    """
    with _open_blocks(src) as b:
        h, _ = _find_hdu(b, hdu, "BINTABLE")
    return h.cards, _parse_columns(h.cards), h.data_off


def _parse_columns(cards: dict) -> list[dict]:
    tfields = _header_int(cards, "TFIELDS")
    cols = []
    for i in range(1, tfields + 1):
        tform = cards.get(f"TFORM{i}", "").strip()
        name = cards.get(f"TTYPE{i}", f"col{i}").strip()
        m = _TFORM_RE.match(tform)
        if not m:
            raise FitsFormatError(f"unparseable TFORM{i}={tform!r}")
        repeat = int(m.group(1)) if m.group(1) else 1
        letter = m.group(2)
        if letter[0] in ("P", "Q"):
            # variable-length array: the row stores a (count, heap-offset)
            # descriptor — 2x int32 for P, 2x int64 for Q; elements live in
            # the heap after the fixed-width rows (THEAP/PCOUNT)
            elem = letter[1] if len(letter) > 1 else ""
            if elem not in _SCALAR_MAP or elem in "CM":
                raise FitsFormatError(
                    f"variable-length element type {elem!r} not supported (TFORM{i}={tform!r})"
                )
            np_char, stype = _SCALAR_MAP[elem]
            desc = ">i4" if letter[0] == "P" else ">i8"
            cols.append(
                dict(name=name, letter=letter[0], repeat=1, width=None,
                     spark_type=ArrayType(ShortType() if elem == "B" else stype),
                     np_dtype=f"2{desc}", vla_elem=elem, vla_np=np_char,
                     tnull=None, kind="raw", tscale=1.0, tzero=0.0)
            )
            continue
        if letter[0] == "A":
            width = int(letter[1:]) if len(letter) > 1 else repeat
            # FITS 'rA' means ONE string of length r (common convention)
            cols.append(
                dict(name=name, letter="A", repeat=1, width=max(repeat, width),
                     spark_type=StringType(), np_dtype=f"S{max(repeat, width)}",
                     tnull=None, kind="raw", tscale=1.0, tzero=0.0)
            )
            continue
        if letter == "X":
            nbytes = (repeat + 7) // 8
            cols.append(
                dict(name=name, letter="X", repeat=1, width=nbytes,
                     spark_type=BinaryType(), np_dtype=f"{nbytes}u1",
                     tnull=None, kind="raw", tscale=1.0, tzero=0.0)
            )
            continue
        np_char, stype = _SCALAR_MAP[letter]
        # TNULLn: integer sentinel -> SQL NULL (FITS has no native numeric
        # null — SURVEY.md §1.1); TSCALn/TZEROn: physical = zero + scale*raw
        tnull = int(cards[f"TNULL{i}"]) if f"TNULL{i}" in cards and letter in "BIJK" else None
        tscale = float(cards.get(f"TSCAL{i}", 1.0))
        tzero = float(cards.get(f"TZERO{i}", 0.0))
        stype, kind = _physical_type(letter, stype, tscale, tzero)
        if repeat > 1:
            cols.append(
                dict(name=name, letter=letter, repeat=repeat, width=None,
                     spark_type=ArrayType(stype), np_dtype=f"{repeat}{np_char}"
                     if letter != "L" else f"{repeat}S1",
                     tnull=tnull, kind=kind, tscale=tscale, tzero=tzero)
            )
        else:
            cols.append(
                dict(name=name, letter=letter, repeat=1, width=None,
                     spark_type=stype, np_dtype=np_char,
                     tnull=tnull, kind=kind, tscale=tscale, tzero=tzero)
            )
    # Optional per-column conventions (FITS 4.0 §7.3.2): TUNITn physical
    # unit and TDISPn display format ride along as Spark column METADATA —
    # they never change decoded values, but sinks (VOTable unit attr) and
    # format_tdisp() consume them downstream.
    for i, c in enumerate(cols, start=1):
        c["unit"] = cards.get(f"TUNIT{i}", "").strip() or None
        c["disp"] = cards.get(f"TDISP{i}", "").strip() or None
    return cols


def _physical_type(letter: str, stype: DataType, tscale: float, tzero: float):
    """Physical (post TSCAL/TZERO) Spark type + decode kind.

    The integer-offset conventions (the FITS way of storing unsigned ints:
    ``I`` + TZERO=32768 = uint16, ``J`` + TZERO=2^31 = uint32, ``B`` +
    TZERO=-128 = signed byte) stay integral with a widened type; any other
    scaling produces DOUBLE. ``K`` with an offset would need uint64 — no
    Spark type holds it, so it is rejected loudly rather than silently
    wrapped."""
    if tscale == 1.0 and tzero == 0.0:
        return stype, "raw"
    if letter in "CM":
        raise FitsFormatError("TSCAL/TZERO on complex (C/M) columns is not supported")
    if letter in "BIJK" and tscale == 1.0 and float(tzero).is_integer():
        if letter == "K":
            raise FitsFormatError("K with TZERO offset (uint64) is not representable")
        promoted = {"B": ShortType(), "I": IntegerType(), "J": LongType()}[letter]
        return promoted, "int_offset"
    if letter == "L":
        return stype, "raw"
    return DoubleType(), "float_scale"


def _field_metadata(c: dict) -> dict:
    """TUNITn/TDISPn as Spark StructField metadata keys (absent if the
    header never declared them)."""
    md = {}
    if c.get("unit"):
        md["fits.tunit"] = c["unit"]
    if c.get("disp"):
        md["fits.tdisp"] = c["disp"]
    return md


def fits_spark_schema(cols: list[dict]) -> StructType:
    return StructType(
        [
            StructField(c["name"], c["spark_type"], True, metadata=_field_metadata(c))
            for c in cols
        ]
    )


_TDISP_RE = re.compile(r"^([AILFEDG])(?:N|S)?(\d+)?(?:\.(\d+))?", re.IGNORECASE)


def format_tdisp(col, tdisp: str):
    """Render a column as its FITS TDISPn display string (FITS 4.0 table
    8.6 subset): ``Iw`` right-justified integer, ``Fw.d`` fixed point,
    ``Ew.d``/``Dw.d``/``Gw.d`` scientific, ``Aw`` left-justified string;
    anything else falls back to a plain string cast. Pure Catalyst
    (format_string), so a TDISP-faithful CSV/VOTable export stays one
    codegen'd projection at any scale."""
    from pyspark.sql import functions as F

    m = _TDISP_RE.match(tdisp.strip()) if tdisp else None
    if not m:
        return F.col(col).cast("string") if isinstance(col, str) else col.cast("string")
    c = F.col(col) if isinstance(col, str) else col
    letter = m.group(1).upper()
    w = int(m.group(2)) if m.group(2) else 0
    d = int(m.group(3)) if m.group(3) is not None else 6
    if letter == "I":
        return F.format_string(f"%{w}d" if w else "%d", c.cast("long"))
    if letter == "F":
        return F.format_string(f"%{w}.{d}f" if w else f"%.{d}f", c.cast("double"))
    if letter in ("E", "D", "G"):
        return F.format_string(f"%{w}.{d}E" if w else f"%.{d}E", c.cast("double"))
    if letter == "A":
        # FITS character data is left-justified within the field width
        return F.format_string(f"%-{w}s" if w else "%s", c.cast("string"))
    return c.cast("string")


# ---------------------------------------------------------------------------
# Row decode (vectorized)
# ---------------------------------------------------------------------------

_NP_TARGET = {ShortType: "i2", IntegerType: "i4", LongType: "i8"}


def decode_bintable(src, hdu: int | str = 1):
    """A BINTABLE given as bytes or a path -> (schema, column arrays).

    Column arrays are 1D for scalar columns, 2D (nrows x repeat) for
    repeat>1 columns, and ``np.ma.MaskedArray`` where a TNULLn sentinel
    declares nulls — :func:`to_arrow_columns` turns all three into Arrow
    arrays (list-typed for 2D, null-bearing for masked)."""
    return _decode(src, hdu, "BINTABLE")


def decode_hdu(src, hdu: int | str = 1):
    """One HDU given as bytes or a path -> (schema, columns), decoded as the
    kind its header declares: a BINTABLE or ASCII TABLE as its rows, a 2-D
    or 3-D IMAGE as one (x, y[, z], val) row per pixel or voxel."""
    return _decode(src, hdu)


def decode_bintable_range(
    path: str, hdu: int | str = 1, row_start: int = 0, row_count: int | None = None
):
    """Decode ONLY rows [row_start, row_start+row_count) of a BINTABLE on
    disk — the partitioned-read primitive: fixed-width rows make the byte
    range exact (data_off + row_start*NAXIS1), so a 100 GB table splits into
    independent seek+read chunks with no coordination."""
    return _decode(path, hdu, "BINTABLE", row_start, row_count)


def _decode(src, hdu: int | str, want: str | None = None, *rows):
    """Select, size-check and decode one HDU from bytes or a path as the
    kind its header declares (which must be ``want`` if given)."""
    with _open_blocks(src) as b:
        h, kind = _find_hdu(b, hdu, want)
        name = src if isinstance(src, (str, os.PathLike)) else "FITS bytes"
        _check_size(b, h, f"{name} HDU {h.index}")
        return kind.decode(b, h, *rows)


def _row_range(nrows: int, row_start: int, row_count: int | None) -> tuple[int, int]:
    """Clamp a requested row range to a table: (first row, row count)."""
    start = min(max(row_start, 0), nrows)
    return start, nrows - start if row_count is None else max(0, min(row_count, nrows - start))


def _decode_bintable_hdu(b: _Blocks, h: Hdu, row_start: int = 0, row_count: int | None = None):
    """The one BINTABLE row-decode core, for whole tables and row ranges:
    reads only the selected rows and, for variable-length (P/Q) columns,
    the heap (descriptor offsets are heap-relative, so any row subset
    resolves against it)."""
    cards = h.cards
    cols = _parse_columns(cards)
    if cards.get("ZTABLE", "").strip() == "T":
        from .fits_compress import decode_compressed_range

        return decode_compressed_range(b.read, cards, cols, h.data_off, row_start, row_count)
    nrows = _header_int(cards, "NAXIS2")
    rowbytes = _header_int(cards, "NAXIS1")
    start, cnt = _row_range(nrows, row_start, row_count)
    dtype = np.dtype([(c["name"], c["np_dtype"]) for c in cols])
    if dtype.itemsize != rowbytes:
        raise FitsFormatError(
            f"row width mismatch: dtype {dtype.itemsize} vs NAXIS1 {rowbytes}"
        )
    raw = np.frombuffer(b.read(h.data_off + start * rowbytes, cnt * rowbytes), dtype=dtype, count=cnt)
    # read only the heap span that the selected rows' P/Q descriptors
    # address, so a row range costs heap I/O in proportion to its rows
    spans = []
    for c in cols:
        if c["letter"] in ("P", "Q"):
            desc = raw[c["name"]].astype("i8")  # (rows, 2): count, offset
            used = desc[desc[:, 0] > 0]
            if len(used):
                ends = used[:, 1] + used[:, 0] * np.dtype(c["vla_np"]).itemsize
                spans.append((int(used[:, 1].min()), int(ends.max())))
    heap, lo = b"", 0
    if spans:
        # the heap starts at data_off + THEAP (default: after the rows)
        theap = int(cards.get("THEAP", rowbytes * nrows))
        lo, hi = min(s[0] for s in spans), max(s[1] for s in spans)
        if lo < 0 or hi > h.data_size - theap:
            raise FitsFormatError(
                f"variable-length array descriptor addresses heap bytes [{lo}, {hi}) "
                f"outside the {h.data_size - theap}-byte heap"
            )
        heap = b.read(h.data_off + theap + lo, hi - lo)
    return fits_spark_schema(cols), _decode_columns(cols, raw, heap, lo)


def _bintable_schema(cards: dict) -> StructType:
    """Declared schema of a BINTABLE header; a tile-compressed table
    (ZTABLE = T) declares its original columns in ZFORMn."""
    if cards.get("ZTABLE", "").strip() == "T":
        from .fits_compress import _orig_columns

        return fits_spark_schema(_orig_columns(cards))
    return fits_spark_schema(_parse_columns(cards))


def _decode_columns(cols: list[dict], raw: np.ndarray, heap_buf, heap_base: int = 0) -> list:
    """Shared fixed-row decode: ``raw`` is the structured row array, and
    ``heap_buf`` the heap from byte ``heap_base`` on (offsets in P/Q
    descriptors are relative to the heap's start)."""
    out = []
    for c in cols:
        a = raw[c["name"]]
        if c["letter"] in ("P", "Q"):
            desc = a.astype(a.dtype.newbyteorder("="))  # (nrows, 2): count, offset
            elem = c["vla_elem"]
            elem_dt = np.dtype(c["vla_np"])
            rows = []
            for cnt, o in desc:
                at = int(o) - heap_base if cnt else 0  # an empty array may point anywhere
                v = np.frombuffer(heap_buf, dtype=elem_dt, count=int(cnt), offset=at)
                if elem == "L":
                    v = v == b"T"
                elif elem == "B":
                    v = v.astype("i2")
                else:
                    v = v.astype(elem_dt.newbyteorder("="))
                rows.append(v)
            out.append(rows)
            continue
        if c["letter"] == "L":
            out.append(a == b"T")
        elif c["letter"] == "A":
            out.append(np.char.decode(np.char.rstrip(a), "ascii"))
        elif c["letter"] == "X":
            out.append([bytes(x) for x in a])
        else:
            native = a.astype(a.dtype.newbyteorder("="))
            # TNULL mask is evaluated on RAW stored values, before scaling
            mask = (native == c["tnull"]) if c["tnull"] is not None else None
            if c["kind"] == "int_offset":
                elem = c["spark_type"].elementType if c["repeat"] > 1 else c["spark_type"]
                native = (native.astype("i8") + int(c["tzero"])).astype(
                    _NP_TARGET[type(elem)]
                )
            elif c["kind"] == "float_scale":
                native = native.astype("f8") * c["tscale"] + c["tzero"]
            elif c["letter"] == "B":
                # unsigned byte: Spark has no u1; widen to int16 (Arrow would
                # otherwise hand Spark an unsupported uint8 array)
                native = native.astype("i2")
            if mask is not None:
                native = np.ma.MaskedArray(native, mask=mask)
            out.append(native)
    return out


def to_arrow_columns(schema: StructType, out: list):
    """Decoded numpy columns -> pyarrow arrays matching the Spark schema.

    Handles the two shapes plain ``pa.array`` rejects: 2D repeat-count
    arrays become ListArrays (vectorized offsets, no per-row Python), and
    masked arrays carry their TNULL nulls into Arrow validity bitmaps."""
    import pyarrow as pa

    def _plain(flat: np.ndarray) -> "pa.Array":
        # complex (FITS C/M) -> struct<re,im>; Arrow has no complex type
        if np.issubdtype(flat.dtype, np.complexfloating):
            return pa.StructArray.from_arrays(
                [pa.array(np.ascontiguousarray(flat.real)),
                 pa.array(np.ascontiguousarray(flat.imag))],
                ["re", "im"],
            )
        return pa.array(flat)

    arrs = []
    for field, a in zip(schema.fields, out):
        if isinstance(a, np.ndarray) and a.ndim == 2:
            n, r = a.shape
            if isinstance(a, np.ma.MaskedArray):
                flat = pa.array(a.data.ravel(), mask=a.mask.ravel())
            else:
                flat = _plain(a.ravel())
            offsets = pa.array(np.arange(n + 1, dtype="i4") * r)
            arrs.append(pa.ListArray.from_arrays(offsets, flat))
        elif isinstance(a, np.ma.MaskedArray):
            arrs.append(pa.array(a.data, mask=np.ma.getmaskarray(a)))
        elif isinstance(a, np.ndarray):
            arrs.append(_plain(a))
        else:
            arrs.append(pa.array(a))
    return arrs


# ---------------------------------------------------------------------------
# The read plan (driver) and the decode to Arrow (executors)
# ---------------------------------------------------------------------------

def header_schema(path: str, hdu: int | str = 1) -> StructType:
    """The schema one file's BINTABLE header declares, from its header
    blocks alone."""
    with _open_blocks(path) as b:
        return _bintable_schema(_find_hdu(b, hdu, "BINTABLE")[0].cards)


class FitsPlan(NamedTuple):
    """A checked FITS read: the declared schema, the HDU kind every file
    selects, and each file's selected HDU."""

    schema: StructType
    kind: str
    files: list[tuple[str, Hdu]]


def plan_fits(
    path: str | list[str],
    hdu: int | str = 1,
    schema: StructType | None = None,
) -> FitsPlan:
    """The one plan of a FITS read, made on the driver before any Spark job.

    Expands ``path`` (a file, directory or glob, or a list of them; each
    must match a file) and reads only the header blocks of every file. The
    first file's selected HDU declares the kind (:func:`_kind`); every
    other file must select the same kind. Each file is checked against the
    declared schema — ``schema`` if given, else the first file's header.
    Columns match by name; their types must be equal, except that a given
    ``schema`` may widen integer and float columns. A file of another
    kind, that differs, or that is shorter than its header declares raises
    :class:`FitsFormatError` naming the file, HDU and column or kinds."""
    widen = schema is not None
    first: tuple[str, _Kind] | None = None
    files: dict[str, Hdu] = {}
    for p in [path] if isinstance(path, str) else path or [""]:
        matched = resolve_paths(p)
        if not matched:
            raise FileNotFoundError(f"no FITS files match {p!r}")
        for f in matched:
            with _open_blocks(f) as b:
                try:
                    h, kind = _find_hdu(b, hdu)
                except FitsFormatError as e:
                    raise FitsFormatError(f"{f}: {e}") from None
                where = f"{f} HDU {h.index}"
                _check_size(b, h, where)
            first = first or (where, kind)
            if kind is not first[1]:
                raise FitsFormatError(
                    f"{where} is {kind.label}, but {first[0]} is {first[1].label}: "
                    "one read takes one HDU kind"
                )
            got = kind.schema(h.cards)
            schema = got if schema is None else _check_schema(where, got, schema, widen)
            files[f] = h
    return FitsPlan(schema, first[1].label, list(files.items()))


# file column types a caller's schema may widen; to_batch casts the column
_WIDENS = {"int": ("smallint",), "bigint": ("smallint", "int"), "double": ("float",)}


def _check_schema(where: str, got: StructType, declared: StructType, widen: bool) -> StructType:
    """Check a file's columns against the declared schema by name: the same
    set, each of the declared type (or, with ``widen``, one it widens).
    Returns the declared schema, nullable wherever the file's is."""
    have = {f.name: f for f in got.fields}
    missing = [n for n in declared.names if n not in have]
    if missing:
        raise FitsFormatError(f"{where}: column {missing[0]!r} is missing")
    extra = [n for n in have if n not in declared.names]
    if extra:
        raise FitsFormatError(f"{where}: column {extra[0]!r} is not in the declared schema")
    fields = []
    for f in declared.fields:
        g = have[f.name]
        t, want = g.dataType.simpleString(), f.dataType.simpleString()
        if g.dataType != f.dataType and not (widen and t in _WIDENS.get(want, ())):
            raise FitsFormatError(f"{where}: column {f.name!r} is {t}, declared {want}")
        fields.append(StructField(f.name, f.dataType, f.nullable or g.nullable, f.metadata))
    return StructType(fields)


def to_batch(schema: StructType, decoded, where: str):
    """The one decode-to-Arrow step: a file's decoded (schema, columns) as
    an Arrow batch of the declared ``schema``. Columns are bound by name,
    never by position, and cast where the declared type widens the file's."""
    import pyarrow as pa

    file_schema, cols = decoded
    arrays = dict(zip(file_schema.names, to_arrow_columns(file_schema, cols)))
    wide = {"int": pa.int32(), "bigint": pa.int64(), "double": pa.float64()}
    out = []
    for f in schema.fields:
        if f.name not in arrays:
            raise FitsFormatError(f"{where}: column {f.name!r} is missing")
        a = arrays[f.name]
        target = wide.get(f.dataType.simpleString())
        out.append(a.cast(target) if target is not None and a.type != target else a)
    return pa.RecordBatch.from_arrays(out, names=schema.names)


# the longest file Spark's binaryFile source reads (2 GiB - 1 by default)
_BINARY_FILE_MAX_LENGTH = "spark.sql.sources.binaryFile.maxLength"


def read_fits(
    spark: SparkSession,
    path: str | list[str],
    hdu: int | str = 1,
    verify_checksum: bool = False,
) -> DataFrame:
    """Read one HDU of each FITS file — a file, directory or glob, or a
    list of them — into one DataFrame, through the ``binaryFile`` +
    ``mapInArrow`` transport: one decode task per planned file.

    ``hdu`` selects the HDU by 1-based index (an int or a numeric string)
    or EXTNAME; its header picks the decoder. A BINTABLE or ASCII TABLE
    loads its rows; a 2-D or 3-D IMAGE loads one (x, y[, z], val) row per
    pixel or voxel with BSCALE/BZERO applied and BLANK pixels null.
    :func:`plan_fits` reads every file's header on the driver, requires one
    HDU kind across the files and declares the schema from the first
    file's header (never inferred from row data); columns bind by name. A
    file over Spark's ``binaryFile`` length limit is rejected in the plan,
    before any Spark job. ``verify_checksum=True`` validates the public
    CHECKSUM/DATASUM convention on every HDU of every file, executor-side
    before decode, and fails the job on the first corrupt HDU (files
    without the keywords pass — unprotected is not corrupt).
    """
    from ..session import ensure_runtime_confs

    plan = plan_fits(path, hdu)
    schema, kind = plan.schema, plan.kind
    limit = int(spark.conf.get(_BINARY_FILE_MAX_LENGTH))
    for p, _ in plan.files:
        if (size := os.path.getsize(p)) > limit:
            raise FitsFormatError(
                f"{p}: {size} bytes is over the binaryFile read limit "
                f"{_BINARY_FILE_MAX_LENGTH}={limit}; read a BINTABLE this large with "
                'spark.read.format("fits"), which splits it into row ranges'
            )
    ensure_runtime_confs(spark)  # ships this package to executor workers

    def decode_files(batches):
        for batch in batches:
            for p, payload in zip(batch.column("path").to_pylist(), batch.column("content")):
                data = payload.as_py()
                if verify_checksum:
                    _verify_or_raise(data, p)
                yield to_batch(schema, _decode(data, hdu, kind), f"{p} HDU {hdu!r}")

    files = spark.read.format("binaryFile").load([p for p, _ in plan.files])
    return files.select("path", "content").mapInArrow(decode_files, schema)


def _verify_or_raise(data: bytes, where: str) -> None:
    """CHECKSUM/DATASUM validation of every HDU of a file — BINTABLE, TABLE
    and IMAGE alike, whatever kind the read selects."""
    for r in verify_checksums(data):
        if r["datasum_ok"] is False or r["checksum_ok"] is False:
            raise FitsFormatError(
                f"{where}: FITS checksum mismatch in HDU {r['hdu']}"
                f" (extname={r['extname']!r})"
            )


# ---------------------------------------------------------------------------
# Writer (tests + fixtures generate their own byte-level FITS files)
# ---------------------------------------------------------------------------

def _card(key: str, value, comment: str = "") -> bytes:
    if isinstance(value, bool):
        v = "T" if value else "F"
        s = f"{key:<8}= {v:>20}"
    elif isinstance(value, (int, float)):
        s = f"{key:<8}= {value:>20}"
    else:
        s = f"{key:<8}= '{value}'"
    if comment:
        s += f" / {comment}"
    return s[:CARD].ljust(CARD).encode("ascii")


def _pad(b: bytes, fill: bytes = b"\x00") -> bytes:
    rem = len(b) % BLOCK
    return b if rem == 0 else b + fill * (BLOCK - rem)


def _primary_hdu() -> bytes:
    hdr = b"".join(
        [
            _card("SIMPLE", True),
            _card("BITPIX", 8),
            _card("NAXIS", 0),
            _card("EXTEND", True),
            b"END".ljust(CARD),
        ]
    )
    return _pad(hdr, b" ")


def write_fits_bintable(
    columns: list[tuple[str, str, list]],
    out: io.IOBase | None = None,
    extname: str | None = None,
    extra_cards: list[tuple[str, object]] | None = None,
) -> bytes:
    """Build a single-BINTABLE FITS file.

    columns: [(name, tform, values), ...] with tform in the §1.2 set
    (e.g. 'J', 'D', 'A12', '3E', 'L', '8X'). ``extra_cards`` appends raw
    header cards (TNULLn / TSCALn / TZEROn in tests); ``extname`` sets
    EXTNAME for by-name HDU selection.
    """
    blob = _primary_hdu() + _bintable_ext(columns, extname, extra_cards)
    if out is not None:
        out.write(blob)
    return blob


def write_fits_multi(
    hdus: list[dict],
    out: io.IOBase | None = None,
) -> bytes:
    """Build a multi-extension FITS file: primary + one BINTABLE per entry.

    hdus: [{"columns": [...], "extname": str|None, "extra_cards": [...]}]
    """
    blob = _primary_hdu() + b"".join(
        _bintable_ext(h["columns"], h.get("extname"), h.get("extra_cards"), h.get("heap", b""))
        for h in hdus
    )
    if out is not None:
        out.write(blob)
    return blob


def write_fits_dataset(
    df: DataFrame,
    out_dir: str,
    tforms: dict[str, str],
    extname: str | None = None,
    extra_cards: list[tuple[str, object]] | None = None,
    tnulls: dict[str, int] | None = None,
) -> int:
    """Distributed FITS BINTABLE write: one file per input partition.

    The inverse of :func:`read_fits`, shaped like a Spark sink: each
    partition's Arrow batches are encoded executor-side into one
    ``part-{pid:05d}.fits`` (primary HDU + a single BINTABLE extension via
    :func:`write_fits_multi`), so an N-partition DataFrame writes N files
    in parallel — the layout :func:`read_fits`'s glob scan parallelizes
    over on the way back in. ``tforms`` maps every column to its TFORMn;
    ``tnulls`` maps integer columns to a TNULLn sentinel — SQL NULLs are
    substituted on write and the TNULLn card is emitted automatically, so
    a null-bearing DataFrame round-trips its nulls. ``extra_cards`` ride
    along on every extension (TSCALn/TZEROn/TUNITn/TDISPn conventions).

    Returns the total row count written (summed from one summary row per
    partition — the only thing that reaches the driver). Scale: like any
    file sink, ``out_dir`` must be storage all executors can reach; encode
    is vectorized numpy per partition, no per-row Python."""
    import pyarrow as pa

    from ..session import ensure_runtime_confs

    spark = df.sparkSession
    ensure_runtime_confs(spark)  # ships this package to executor workers
    os.makedirs(out_dir, exist_ok=True)
    names = [f.name for f in df.schema.fields]
    missing = [n for n in names if n not in tforms]
    if missing:
        raise FitsFormatError(f"no TFORM given for columns {missing}")
    cards = list(extra_cards or [])
    for i, n in enumerate(names, start=1):
        if tnulls and n in tnulls:
            cards.append((f"TNULL{i}", int(tnulls[n])))
    col_tforms = [tforms[n] for n in names]
    sentinels = {n: int(tnulls[n]) for n in (tnulls or {})}

    def encode_partition(batches):
        from pyspark import TaskContext

        got = list(batches)
        if not got:
            return
        tbl = pa.Table.from_batches(got)
        columns = []
        for name, tform in zip(names, col_tforms):
            values = tbl.column(name).to_pylist()
            if name in sentinels:
                s = sentinels[name]
                values = [s if v is None else v for v in values]
            columns.append((name, tform, values))
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.fits")
        blob = write_fits_multi(
            [{"columns": columns, "extname": extname, "extra_cards": cards}]
        )
        # Task-commit protocol (ADVICE r13): write to an attempt-unique temp
        # name, then os.rename into place — atomic on the same filesystem —
        # so a retried or speculative duplicate attempt never interleaves
        # writes on the final path, and a killed task leaves only a
        # dot-prefixed temp that Spark's file index treats as hidden (the
        # same convention that hides _SUCCESS/_temporary), never a
        # truncated part file.
        tmp = os.path.join(
            out_dir, f".part-{pid:05d}.attempt-{ctx.taskAttemptId()}.tmp"
        )
        with open(tmp, "wb") as f:
            f.write(blob)
        os.rename(tmp, path)
        yield pa.RecordBatch.from_arrays(
            [pa.array([path]), pa.array([tbl.num_rows], type=pa.int64())],
            names=["path", "nrows"],
        )

    summary = df.mapInArrow(
        encode_partition, schema="path string, nrows long"
    ).collect()  # bounded: one row per partition
    return sum(r.nrows for r in summary)


def _bintable_ext(
    columns: list[tuple[str, str, list]],
    extname: str | None = None,
    extra_cards: list[tuple[str, object]] | None = None,
    heap: bytes = b"",
) -> bytes:
    nrows = len(columns[0][2]) if columns else 0
    np_fields, encoded = [], []
    vla_heap = bytearray()
    for name, tform, values in columns:
        m = _TFORM_RE.match(tform)
        if not m:
            raise FitsFormatError(f"bad tform {tform!r}")
        repeat = int(m.group(1)) if m.group(1) else 1
        letter = m.group(2)
        if letter[0] in ("P", "Q"):
            elem = letter[1]
            desc_dt = ">i4" if letter[0] == "P" else ">i8"
            np_fields.append((name, f"2{desc_dt}"))
            descs = np.zeros((nrows, 2), dtype=desc_dt)
            for r, vals in enumerate(values):
                if elem == "L":
                    enc = np.array([b"T" if v else b"F" for v in vals], dtype="S1")
                else:
                    np_char, _ = _SCALAR_MAP[elem]
                    enc = np.array(vals).astype(np_char)
                descs[r] = (len(vals), len(vla_heap))
                vla_heap += enc.tobytes()
            encoded.append(descs)
        elif letter[0] == "A":
            width = int(letter[1:]) if len(letter) > 1 else repeat
            np_fields.append((name, f"S{width}"))
            encoded.append(np.array([str(v)[:width].encode("ascii") for v in values], dtype=f"S{width}"))
        elif letter == "X":
            nbytes = (repeat + 7) // 8
            np_fields.append((name, f"{nbytes}u1"))
            encoded.append(np.array([np.frombuffer(v, dtype="u1") for v in values], dtype="u1"))
        elif letter == "L":
            if repeat > 1:
                np_fields.append((name, f"{repeat}S1"))
                encoded.append(
                    np.array(
                        [[b"T" if v else b"F" for v in row] for row in values], dtype="S1"
                    )
                )
            else:
                np_fields.append((name, "S1"))
                encoded.append(np.array([b"T" if v else b"F" for v in values], dtype="S1"))
        else:
            np_char, _ = _SCALAR_MAP[letter]
            if repeat > 1:
                np_fields.append((name, f"{repeat}{np_char}"))
                encoded.append(np.array(values, dtype=np_char.lstrip(">")).astype(np_char))
            else:
                np_fields.append((name, np_char))
                encoded.append(np.array(values).astype(np_char))

    dtype = np.dtype(np_fields)
    rows = np.zeros(nrows, dtype=dtype)
    for (name, _), arr in zip(np_fields, encoded):
        rows[name] = arr

    cards = [
        _card("XTENSION", "BINTABLE"),
        _card("BITPIX", 8),
        _card("NAXIS", 2),
        _card("NAXIS1", dtype.itemsize),
        _card("NAXIS2", nrows),
        _card("PCOUNT", len(vla_heap) + len(heap)),
        _card("GCOUNT", 1),
        _card("TFIELDS", len(columns)),
    ]
    for i, (name, tform, _) in enumerate(columns, 1):
        cards.append(_card(f"TTYPE{i}", name))
        cards.append(_card(f"TFORM{i}", tform))
    if extname is not None:
        cards.append(_card("EXTNAME", extname))
    for key, value in extra_cards or []:
        cards.append(_card(key, value))
    cards.append(b"END".ljust(CARD))
    ext_hdr = _pad(b"".join(cards), b" ")
    return ext_hdr + _pad(rows.tobytes() + bytes(vla_heap) + heap)


# ---------------------------------------------------------------------------
# ASCII TABLE extensions (XTENSION = 'TABLE')
# ---------------------------------------------------------------------------

_ASCII_TFORM_RE = re.compile(r"^([AIFED])(\d+)(?:\.(\d+))?$")


def _ascii_columns(cards: dict) -> list[dict]:
    """Columns an ASCII TABLE header declares.

    ASCII tables (the older FITS table flavor, still common for small
    catalogs) store each row as NAXIS1 characters; TBCOLn gives the 1-based
    start column, TFORMn one of Aw / Iw / Fw.d / Ew.d / Dw.d. TNULLn is a
    literal string that marks a null field; TSCALn/TZEROn scale numerics
    exactly as in binary tables."""
    tfields = _header_int(cards, "TFIELDS")
    cols = []
    for i in range(1, tfields + 1):
        tform = cards.get(f"TFORM{i}", "").strip()
        m = _ASCII_TFORM_RE.match(tform)
        if not m:
            raise FitsFormatError(f"unparseable ASCII TFORM{i}={tform!r}")
        letter, width = m.group(1), int(m.group(2))
        stype = {"A": StringType(), "I": LongType()}.get(letter, DoubleType())
        tscale = float(cards.get(f"TSCAL{i}", 1.0))
        tzero = float(cards.get(f"TZERO{i}", 0.0))
        if letter != "A" and (tscale != 1.0 or tzero != 0.0):
            stype = DoubleType()
        cols.append(
            dict(
                name=cards.get(f"TTYPE{i}", f"col{i}").strip(),
                letter=letter,
                width=width,
                tbcol=_header_int(cards, f"TBCOL{i}"),
                spark_type=stype,
                tnull=cards.get(f"TNULL{i}", None),
                tscale=tscale,
                tzero=tzero,
                unit=cards.get(f"TUNIT{i}", "").strip() or None,
                disp=cards.get(f"TDISP{i}", "").strip() or None,
            )
        )
    return cols


def _decode_ascii_hdu(b: _Blocks, h: Hdu):
    """Vectorized: a structured dtype with explicit field OFFSETS (TBCOLn-1)
    slices every field of every row in one frombuffer — no per-row Python.
    Null fields (blank or == the TNULLn string) become masked entries;
    Fortran 'D' exponents are folded to 'E' before float conversion."""
    cards = h.cards
    cols = _ascii_columns(cards)
    nrows = _header_int(cards, "NAXIS2")
    rowbytes = _header_int(cards, "NAXIS1")
    dtype = np.dtype(
        {
            "names": [c["name"] for c in cols],
            "formats": [f"S{c['width']}" for c in cols],
            "offsets": [c["tbcol"] - 1 for c in cols],
            "itemsize": rowbytes,
        }
    )
    raw = np.frombuffer(b.read(h.data_off, nrows * rowbytes), dtype=dtype, count=nrows)
    out = []
    for c in cols:
        a = np.char.strip(raw[c["name"]])
        # blank numeric fields are undefined -> NULL; a blank A field is a
        # legitimate empty string (only its TNULL sentinel means null)
        null_mask = (a == b"") if c["letter"] != "A" else np.zeros(len(a), dtype=bool)
        if c["tnull"] is not None:
            null_mask |= a == c["tnull"].encode("ascii")
        if c["letter"] == "A":
            s = np.char.decode(a, "ascii").astype(object)
            if null_mask.any():
                s = np.ma.MaskedArray(s, mask=null_mask)
            out.append(s)
            continue
        filled = np.where(null_mask, b"0", a)
        if c["letter"] == "I":
            v = filled.astype("i8")
        else:
            v = np.char.replace(np.char.replace(filled, b"D", b"E"), b"d", b"e").astype("f8")
        if c["tscale"] != 1.0 or c["tzero"] != 0.0:
            v = v.astype("f8") * c["tscale"] + c["tzero"]
        if null_mask.any():
            v = np.ma.MaskedArray(v, mask=null_mask)
        out.append(v)
    return fits_spark_schema(cols), out


def write_fits_asciitable(
    columns: list[tuple[str, str, list]],
    extname: str | None = None,
    null_token: str | None = None,
    extra_cards: list[tuple[str, object]] | None = None,
) -> bytes:
    """Test/fixture writer for ASCII TABLE extensions. ``columns`` entries
    are (name, tform, values) with tform in Aw/Iw/Fw.d/Ew.d/Dw.d; ``None``
    values are written as ``null_token`` (declared via TNULLn)."""
    nrows = len(columns[0][2]) if columns else 0
    widths = []
    for _, tform, _ in columns:
        m = _ASCII_TFORM_RE.match(tform)
        if not m:
            raise FitsFormatError(f"unparseable ASCII TFORM {tform!r}")
        widths.append(int(m.group(2)))
    rowbytes = sum(widths)
    lines = []
    for r in range(nrows):
        parts = []
        for (name, tform, vals), w in zip(columns, widths):
            v = vals[r]
            if v is None:
                s = (null_token or "").rjust(w)
            elif tform[0] == "A":
                s = str(v).ljust(w)
            elif tform[0] == "I":
                s = str(int(v)).rjust(w)
            else:
                d = int(tform.split(".")[1]) if "." in tform else 6
                s = f"{float(v):.{d}f}".rjust(w) if tform[0] == "F" else f"{float(v):.{d}E}".rjust(w)
            if len(s) > w:
                raise FitsFormatError(f"value {v!r} wider than {tform}")
            parts.append(s)
        lines.append("".join(parts))
    payload = "".join(lines).encode("ascii")
    cards = [
        _card("XTENSION", "TABLE"),
        _card("BITPIX", 8),
        _card("NAXIS", 2),
        _card("NAXIS1", rowbytes),
        _card("NAXIS2", nrows),
        _card("PCOUNT", 0),
        _card("GCOUNT", 1),
        _card("TFIELDS", len(columns)),
    ]
    tbcol = 1
    for i, ((name, tform, _), w) in enumerate(zip(columns, widths), start=1):
        cards.append(_card(f"TTYPE{i}", name))
        cards.append(_card(f"TFORM{i}", tform))
        cards.append(_card(f"TBCOL{i}", tbcol))
        if null_token is not None and tform[0] != "A":
            cards.append(_card(f"TNULL{i}", null_token))
        tbcol += w
    if extname:
        cards.append(_card("EXTNAME", extname))
    for k, v in extra_cards or []:
        cards.append(_card(k, v))
    cards.append(b"END".ljust(CARD))
    header = _pad(b"".join(cards), b" ")
    return _primary_hdu() + header + _pad(payload)


# ---------------------------------------------------------------------------
# CHECKSUM / DATASUM convention (the public FITS checksum keyword proposal:
# 1's-complement 32-bit sums, ASCII-encoded complement, whole-HDU sum of
# 0xFFFFFFFF on verify). Archives ship fpack'd + checksummed files; this is
# the integrity half of that contract.
# ---------------------------------------------------------------------------

_CHECKSUM_EXCLUDE = frozenset(b":;<=>?@[\\]^_`")


def _sum32(buf: bytes, initial: int = 0) -> int:
    """1's-complement 32-bit sum over big-endian words with end-around
    carry. FITS blocks are 2880 bytes (divisible by 4), so every header
    and padded data area is word-aligned by construction."""
    if len(buf) % 4:
        raise FitsFormatError("checksum region not 4-byte aligned")
    a = np.frombuffer(buf, dtype=">u4")
    s = int(a.sum(dtype=np.uint64)) + int(initial)
    while s >> 32:
        s = (s & 0xFFFFFFFF) + (s >> 32)
    return s


def encode_checksum(value: int) -> str:
    """ASCII-encode a 32-bit value for the CHECKSUM card: each byte is
    spread over 4 characters offset from ASCII '0' (so a '0'*16
    placeholder contributes exactly the baseline), punctuation in the
    excluded set is resolved by balanced +1/-1 pair shifts (sum
    preserved), and the 16-char string is rotated one place right to
    line its most-significant characters up with the 4-byte word grid at
    the card's value offset (column 11 = 3 mod 4)."""
    asc = bytearray(16)
    for i in range(4):
        byte = (value >> (24 - 8 * i)) & 0xFF
        q, r = divmod(byte, 4)
        ch = [0x30 + q] * 4
        ch[0] += r
        changed = True
        while changed:
            changed = False
            for j in (0, 2):
                if ch[j] in _CHECKSUM_EXCLUDE or ch[j + 1] in _CHECKSUM_EXCLUDE:
                    ch[j] += 1
                    ch[j + 1] -= 1
                    changed = True
        for j in range(4):
            asc[4 * j + i] = ch[j]
    return bytes(asc[-1:] + asc[:-1]).decode("ascii")


def _header_records(buf: bytes, off: int, data_off: int) -> list[bytes]:
    """The 80-byte card images of one header, up to and excluding END."""
    recs = []
    for p in range(off, data_off, CARD):
        card = buf[p : p + CARD]
        if card[:8].rstrip() == b"END":
            return recs
        recs.append(card)
    raise FitsFormatError("header without END card")


def add_checksums(blob: bytes) -> bytes:
    """Return ``blob`` with correct DATASUM + CHECKSUM cards on every HDU
    (existing ones replaced). DATASUM is the decimal 1's-complement sum
    of the padded data area; CHECKSUM is written so the whole-HDU sum is
    0xFFFFFFFF — asserted here, so a miswritten card can never leave
    this function."""
    out = bytearray()
    for h in _complete_hdus(blob):
        data = blob[h.data_off : h.end]
        recs = [
            r
            for r in _header_records(blob, h.header_off, h.data_off)
            if r[:8].rstrip() not in (b"DATASUM", b"CHECKSUM")
        ]
        recs.append(_card("DATASUM", str(_sum32(data))))
        recs.append(_card("CHECKSUM", "0" * 16))
        cks_rec = len(recs) - 1
        recs.append(b"END".ljust(CARD))
        header = bytearray(_pad(b"".join(recs), b" "))
        tmp = _sum32(bytes(header) + data)
        enc = encode_checksum(~tmp & 0xFFFFFFFF).encode("ascii")
        vpos = cks_rec * CARD + 11  # value chars inside the quoted string
        header[vpos : vpos + 16] = enc
        if _sum32(bytes(header) + data) != 0xFFFFFFFF:
            raise FitsFormatError("checksum encoding failed self-verification")
        out += bytes(header) + data
    return bytes(out)


def verify_checksums(blob: bytes) -> list[dict]:
    """Walk every HDU and report integrity: ``datasum_ok`` compares the
    stored DATASUM against the recomputed data sum, ``checksum_ok``
    requires the whole-HDU 1's-complement sum to be 0xFFFFFFFF (the
    convention's self-cancelling property — no decode step needed). A
    missing keyword reports None for its check, so callers distinguish
    'unprotected' from 'corrupt' — with one deliberate asymmetry (r8,
    found by the hypothesis tamper sweep): an HDU carrying DATASUM but
    NOT CHECKSUM reports ``checksum_ok=False``, never None. The stamper
    always writes both, so a header where exactly the CHECKSUM keyword
    has vanished is tamper evidence, and treating it as merely
    'unprotected' would let a single byte flip on the keyword itself
    defeat verification silently. (The mirror flip on DATASUM's keyword
    needs no special case: CHECKSUM's whole-HDU sum covers those bytes
    and fails on its own.)"""
    results = []
    for h in _complete_hdus(blob):
        cards = h.cards
        data = blob[h.data_off : h.end]
        entry: dict = {"hdu": h.index, "extname": cards.get("EXTNAME")}
        datasum = cards.get("DATASUM")
        entry["datasum_ok"] = (
            None if datasum is None
            # a DATASUM value that is no longer a number was damaged
            else str(datasum).strip().isdigit() and int(datasum) == _sum32(data)
        )
        if "CHECKSUM" in cards:
            entry["checksum_ok"] = _sum32(blob[h.header_off : h.end]) == 0xFFFFFFFF
        elif "DATASUM" in cards:
            # stamped files carry BOTH; a lone DATASUM means the CHECKSUM
            # card was destroyed — tamper evidence, not 'unprotected'
            entry["checksum_ok"] = False
        else:
            entry["checksum_ok"] = None
        results.append(entry)
    return results


def _complete_hdus(src) -> list[Hdu]:
    """Every HDU of a file given as bytes or a path, each with its whole
    padded data area present; only header blocks are read."""
    with _open_blocks(src) as b:
        hdus = list(_walk_hdus(b))
    if hdus and hdus[-1].end > b.size:
        raise FitsFormatError("truncated HDU data area")
    return hdus


def catalog_hdus(src) -> list[dict]:
    """Header-only walk of every HDU in a FITS file given as bytes or a
    path: index, EXTNAME, extension type, row/column counts and data-area
    bytes — WITHOUT touching the data areas (the walk seeks by the
    standard size formula, so cataloging a multi-GB file costs only its
    header blocks). This is the manifest step a bulk loader runs before
    scheduling per-HDU ingest jobs: which extensions exist, under what
    names, and how big each is."""
    out = []
    for h in _complete_hdus(src):
        cards = h.cards
        xt = str(cards.get("XTENSION", "PRIMARY")).strip()
        naxis = _header_int(cards, "NAXIS")
        out.append(
            {
                "hdu": h.index,
                "extname": cards.get("EXTNAME"),
                "xtension": xt,
                "n_rows": _header_int(cards, "NAXIS2") if naxis >= 2 else 0,
                "n_cols": int(cards["TFIELDS"]) if "TFIELDS" in cards else 0,
                "data_bytes": h.data_size,
            }
        )
    return out


def read_fits_catalog(spark: SparkSession, path: str) -> DataFrame:
    """HDU manifest over a FITS file, directory or glob: one row per HDU
    with (file, hdu, extname, xtension, n_rows, n_cols, data_bytes). Each
    file's header blocks are walked on the driver by :func:`catalog_hdus`
    and its data areas are skipped, never read, so the cost is O(files),
    not O(bytes), whatever a file's size; at archive scale this is the
    planning query that decides which HDUs are worth a full ingest pass."""
    files = resolve_paths(path)
    if not files:
        raise FileNotFoundError(f"no FITS files match {path!r}")
    rows = []
    for f in files:
        try:
            rows += [{"file": os.path.basename(f), **e} for e in catalog_hdus(f)]
        except FitsFormatError as e:
            raise FitsFormatError(f"{f}: {e}") from None
    schema = StructType(
        [
            StructField("file", StringType()),
            StructField("hdu", IntegerType()),
            StructField("extname", StringType()),
            StructField("xtension", StringType()),
            StructField("n_rows", LongType()),
            StructField("n_cols", IntegerType()),
            StructField("data_bytes", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# IMAGE extensions (XTENSION = 'IMAGE' / primary arrays) -> pixel tables
# ---------------------------------------------------------------------------

_BITPIX_DTYPES = {8: "u1", 16: ">i2", 32: ">i4", 64: ">i8", -32: ">f4", -64: ">f8"}


def write_fits_image(
    data: "np.ndarray",
    bscale: float = 1.0,
    bzero: float = 0.0,
    extname: str | None = None,
    out: io.IOBase | None = None,
    blank: int | None = None,
) -> bytes:
    """Build a FITS file whose first extension is an IMAGE HDU: 2-D, or a
    3-D spectral cube indexed [z, y, x] (C order matches the FITS
    axis-1-fastest serialization). BITPIX follows the array dtype;
    BSCALE/BZERO are written as given (the stored integers are the RAW
    values — physical = BZERO + BSCALE * raw, applied by the reader per
    the standard). ``blank`` emits the BLANK card — the integer-image
    undefined-pixel sentinel (FITS 4.0 §4.4.2.5, integer BITPIX only), the
    IMAGE-HDU analogue of a BINTABLE TNULLn."""
    if blank is not None and data.dtype.kind not in "iu":
        raise FitsFormatError("BLANK is only defined for integer BITPIX")
    inv = {v.lstrip(">"): k for k, v in _BITPIX_DTYPES.items()}
    key = data.dtype.newbyteorder("=").str.lstrip("<>=|")
    if key not in inv:
        raise FitsFormatError(f"unsupported image dtype {data.dtype}")
    bitpix = inv[key]
    cards = [
        _card("XTENSION", "IMAGE"),
        _card("BITPIX", bitpix),
        _card("NAXIS", data.ndim),
        *[_card(f"NAXIS{a}", n) for a, n in enumerate(reversed(data.shape), start=1)],
        _card("PCOUNT", 0),
        _card("GCOUNT", 1),
    ]
    if bscale != 1.0:
        cards.append(_card("BSCALE", bscale))
    if bzero != 0.0:
        cards.append(_card("BZERO", bzero))
    if extname is not None:
        cards.append(_card("EXTNAME", extname))
    if blank is not None:
        cards.append(_card("BLANK", int(blank)))
    cards.append(b"END".ljust(CARD))
    hdr = _pad(b"".join(cards), b" ")
    payload = data.astype(_BITPIX_DTYPES[bitpix]).tobytes()
    blob = _primary_hdu() + hdr + _pad(payload)
    if out is not None:
        out.write(blob)
    return blob


def _pixel_schema(cards: dict) -> StructType:
    """One integer coordinate column per axis (x = NAXIS1, the fastest) and
    the physical value; ``val`` is nullable only where BLANK declares an
    undefined-pixel sentinel (integer BITPIX only)."""
    naxis = _header_int(cards, "NAXIS")
    blank = "BLANK" in cards and _header_int(cards, "BITPIX") > 0
    return StructType(
        [StructField(a, IntegerType(), False) for a in ("x", "y", "z")[:naxis]]
        + [StructField("val", DoubleType(), blank)]
    )


def _decode_pixels(b: _Blocks, h: Hdu):
    """IMAGE HDU of any supported NAXIS -> one row per pixel or voxel."""
    cards = h.cards
    shape = [_header_int(cards, f"NAXIS{a}") for a in range(1, _header_int(cards, "NAXIS") + 1)]
    bitpix = _header_int(cards, "BITPIX")
    try:
        dt = np.dtype(_BITPIX_DTYPES[bitpix])
    except KeyError as e:
        raise FitsFormatError(f"bad BITPIX {bitpix}") from e
    n = math.prod(shape)
    raw = np.frombuffer(b.read(h.data_off, n * dt.itemsize), dtype=dt, count=n)
    # axis a varies every prod(shape[:a]) values and repeats prod(shape[a+1:]) times
    coords = [
        np.tile(np.repeat(np.arange(size, dtype="i4"), math.prod(shape[:a])), math.prod(shape[a + 1 :]))
        for a, size in enumerate(shape)
    ]
    val = float(cards.get("BZERO", 0.0)) + float(cards.get("BSCALE", 1.0)) * raw.astype("f8")
    # BLANK: undefined-pixel sentinel on RAW stored values (integer BITPIX
    # only, like a BINTABLE TNULLn) -> SQL NULL after scaling
    if "BLANK" in cards and bitpix > 0:
        val = np.ma.MaskedArray(val, mask=raw == int(cards["BLANK"]))
    return _pixel_schema(cards), [*coords, val]


# ---------------------------------------------------------------------------
# HDU kinds: what each reader selects, declares and decodes
# ---------------------------------------------------------------------------

class _Kind(NamedTuple):
    label: str
    schema: Callable[[dict], StructType]  # header cards -> declared schema
    decode: Callable  # (blocks, hdu[, row_start, row_count]) -> (schema, columns)


_BINTABLE = _Kind("BINTABLE", _bintable_schema, _decode_bintable_hdu)
_ASCII = _Kind("ASCII TABLE", lambda cards: fits_spark_schema(_ascii_columns(cards)), _decode_ascii_hdu)
_IMAGE = _Kind("IMAGE", _pixel_schema, _decode_pixels)


def _kind(h: Hdu, want: str | None = None) -> _Kind:
    """The kind an HDU's header declares: a BINTABLE (tile-compressed
    included), an ASCII TABLE, or a 2-D or 3-D IMAGE (an IMAGE extension
    or the primary array). Raises for any other HDU, or for a kind other
    than ``want`` when given."""
    cards = h.cards
    if h.index == 0 and cards.get("SIMPLE") == "T":
        kind = _IMAGE
    else:
        kind = {"BINTABLE": _BINTABLE, "TABLE": _ASCII, "IMAGE": _IMAGE}.get(
            cards.get("XTENSION", "").strip()
        )
    if kind is _IMAGE and _header_int(cards, "NAXIS") not in (2, 3):
        kind = None
    if kind is None or want not in (None, kind.label):
        raise FitsFormatError(
            f"HDU {h.index} is not a {want or 'BINTABLE, ASCII TABLE or 2-D/3-D IMAGE'}"
            f" (XTENSION={cards.get('XTENSION')!r}, NAXIS={cards.get('NAXIS')})"
        )
    return kind
