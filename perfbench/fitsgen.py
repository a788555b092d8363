"""Seeded FITS tile-set generator with its own BINTABLE encoder.

The encoder is deliberately independent of ``fits2db_spark.sources.fits``:
the benchmark's inputs must not change when the program's writer changes.
Columns cover the catalog kinds a survey table carries, scalar only (Derby's
JDBC dialect has no array type):

    id    K               unique 64-bit key
    ra    D, dec D        coordinates
    mag   E               single-precision magnitude
    flux  I + TSCAL/TZERO scaled integer, physical value is a double
    nobs  J + TNULL       integer with a null sentinel
    name  A16             fixed-width text
    flag  L               logical
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

BLOCK = 2880
CARD = 80

FLUX_TSCAL = 0.01
FLUX_TZERO = 100.0
NOBS_TNULL = -1

COLUMNS = (
    ("id", "K", ">i8"),
    ("ra", "D", ">f8"),
    ("dec", "D", ">f8"),
    ("mag", "E", ">f4"),
    ("flux", "I", ">i2"),
    ("nobs", "J", ">i4"),
    ("name", "A16", "S16"),
    ("flag", "L", "S1"),
)
ROW_DTYPE = np.dtype([(n, dt) for n, _, dt in COLUMNS])


@dataclass(frozen=True)
class TileSet:
    """One generated tile set on disk and the values a load must reproduce."""

    directory: str
    files: tuple[str, ...]
    rows: int
    id_sum: int
    input_bytes: int

    @property
    def glob(self) -> str:
        return os.path.join(self.directory, "*.fits")


def _card(key: str, value) -> bytes:
    if isinstance(value, bool):
        text = f"{key:<8}= {'T' if value else 'F':>20}"
    elif isinstance(value, (int, float)):
        text = f"{key:<8}= {value!r:>20}"
    elif key == "END":
        text = "END"
    else:
        text = f"{key:<8}= '{value:<8}'"
    if len(text) > CARD:
        raise ValueError(f"header card too long: {text!r}")
    return text.ljust(CARD).encode("ascii")


def _header(cards: list[tuple[str, object]]) -> bytes:
    raw = b"".join(_card(k, v) for k, v in cards) + _card("END", None)
    return raw + b" " * (-len(raw) % BLOCK)


def encode_bintable(rows: np.ndarray) -> bytes:
    """Primary HDU + one BINTABLE extension holding ``rows`` (ROW_DTYPE)."""
    primary = _header([("SIMPLE", True), ("BITPIX", 8), ("NAXIS", 0), ("EXTEND", True)])
    cards: list[tuple[str, object]] = [
        ("XTENSION", "BINTABLE"),
        ("BITPIX", 8),
        ("NAXIS", 2),
        ("NAXIS1", ROW_DTYPE.itemsize),
        ("NAXIS2", len(rows)),
        ("PCOUNT", 0),
        ("GCOUNT", 1),
        ("TFIELDS", len(COLUMNS)),
    ]
    for i, (name, tform, _) in enumerate(COLUMNS, start=1):
        cards += [(f"TTYPE{i}", name), (f"TFORM{i}", tform)]
        if name == "flux":
            cards += [(f"TSCAL{i}", FLUX_TSCAL), (f"TZERO{i}", FLUX_TZERO)]
        elif name == "nobs":
            cards.append((f"TNULL{i}", NOBS_TNULL))
    data = rows.astype(ROW_DTYPE, copy=False).tobytes()
    return primary + _header(cards) + data + b"\0" * (-len(data) % BLOCK)


def _rows(rng: np.random.Generator, first_id: int, n: int) -> np.ndarray:
    out = np.empty(n, dtype=ROW_DTYPE)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    out["id"] = ids
    out["ra"] = rng.uniform(0.0, 360.0, n)
    out["dec"] = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    out["mag"] = rng.normal(19.0, 1.5, n).astype(np.float32)
    out["flux"] = rng.integers(-30000, 30000, n, dtype=np.int16)
    nobs = rng.integers(0, 200, n, dtype=np.int32)
    nobs[rng.random(n) < 0.05] = NOBS_TNULL
    out["nobs"] = nobs
    out["name"] = np.char.encode(np.char.add("SRC", ids.astype("U13")), "ascii")
    out["flag"] = np.where(rng.random(n) < 0.5, b"T", b"F")
    return out


def generate(directory: str, seed: int, total_rows: int, n_files: int, big_factor: int) -> TileSet:
    """Write ``n_files`` BINTABLE files holding ``total_rows`` rows in all.

    One file holds ``big_factor`` times the rows of each other file: each
    file is one decode unit, so that file is the straggler of every load.
    The seed chooses the values and which file is the large one; the file
    sizes themselves are fixed, because Spark packs files into tasks by
    size and a seed-dependent packing moved load latency by half.
    """
    if n_files < 2 or total_rows < n_files * 4:
        raise ValueError("tile set needs at least two files and a few rows per file")
    rng = np.random.default_rng(seed)
    base = total_rows // (n_files - 1 + big_factor)
    sizes = np.full(n_files, base)
    big = int(rng.integers(n_files))
    sizes[big] = total_rows - base * (n_files - 1)

    os.makedirs(directory, exist_ok=True)
    first_id = int(rng.integers(1, 1 << 40))
    files, input_bytes = [], 0
    for i, n in enumerate(sizes):
        blob = encode_bintable(_rows(rng, first_id, int(n)))
        path = os.path.join(directory, f"tile_{i:03d}.fits")
        with open(path, "wb") as f:
            f.write(blob)
        files.append(path)
        input_bytes += len(blob)
        first_id += int(n)
    first = first_id - total_rows
    id_sum = (first + first_id - 1) * total_rows // 2
    return TileSet(directory, tuple(files), total_rows, id_sum, input_bytes)
