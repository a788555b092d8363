"""FITS BINTABLE parser/writer unit tests (SURVEY.md §5.2): §1.2 type-map
round trips on self-generated byte-level files, plus error cases."""

import numpy as np
import pytest

from fits2db_spark.sources.fits import (
    FitsFormatError,
    decode_bintable,
    parse_bintable_header,
    read_fits,
    write_fits_bintable,
)


@pytest.fixture
def max_partition_bytes(spark):
    """Set spark.sql.files.maxPartitionBytes for format("fits") reads
    (register() reads it), restoring the session's value afterwards."""
    from fits2db_spark.sources.fits_datasource import register

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)

    def set_to(n: int) -> None:
        spark.conf.set(key, str(n))
        register(spark)

    yield set_to
    spark.conf.set(key, old)
    register(spark)


def _roundtrip(columns):
    blob = write_fits_bintable(columns)
    schema, decoded = decode_bintable(blob)
    return blob, schema, decoded


def test_scalar_types_roundtrip():
    blob, schema, cols = _roundtrip(
        [
            ("flag", "L", [True, False, True]),
            ("b8", "B", [0, 127, 255]),
            ("i16", "I", [-32768, 0, 32767]),
            ("i32", "J", [-(2**31), 0, 2**31 - 1]),
            ("i64", "K", [-(2**63), 0, 2**63 - 1]),
            ("f32", "E", [1.5, -2.25, 0.0]),
            ("f64", "D", [math := 3.141592653589793, -1e300, 0.0]),
            ("name", "A8", ["alpha", "b", "gamma123"]),
        ]
    )
    types = [f.dataType.simpleString() for f in schema.fields]
    assert types == ["boolean", "smallint", "smallint", "int", "bigint", "float", "double", "string"]
    assert list(cols[0]) == [True, False, True]
    assert list(cols[1]) == [0, 127, 255]
    assert list(cols[4]) == [-(2**63), 0, 2**63 - 1]
    assert cols[6][0] == math
    assert list(cols[7]) == ["alpha", "b", "gamma123"]
    # FITS files are 2880-byte blocks
    assert len(blob) % 2880 == 0


def test_array_column_roundtrip():
    _, schema, cols = _roundtrip(
        [("vec", "3E", [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]), ("k", "J", [1, 2])]
    )
    assert schema.fields[0].dataType.simpleString() == "array<float>"
    np.testing.assert_array_equal(cols[0], [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])


def test_bitfield_roundtrip():
    _, schema, cols = _roundtrip([("bits", "16X", [b"\xff\x00", b"\x0f\xf0"])])
    assert schema.fields[0].dataType.simpleString() == "binary"
    assert cols[0] == [b"\xff\x00", b"\x0f\xf0"]


def test_header_declares_schema():
    blob = write_fits_bintable([("x", "D", [1.0]), ("s", "A4", ["ab"])])
    cards, cols, off = parse_bintable_header(blob)
    assert cards["XTENSION"].startswith("BINTABLE")
    assert int(cards["NAXIS2"]) == 1
    assert [c["name"] for c in cols] == ["x", "s"]
    assert off % 2880 == 0


def test_variable_length_bad_element_rejected():
    blob = write_fits_bintable([("x", "J", [1])])
    # corrupt TFORM1 to a P descriptor with an unknown element type
    bad = blob.replace(b"TFORM1  = 'J'", b"TFORM1  = 'PZ(5)'")
    with pytest.raises(FitsFormatError, match="element type"):
        decode_bintable(bad)


def test_variable_length_roundtrip():
    """P (32-bit) and Q (64-bit) heap descriptors -> ArrayType columns with
    per-row lengths."""
    _, schema, cols = _roundtrip(
        [
            ("vj", "PJ(4)", [[1, 2, 3], [], [7]]),
            ("vd", "QD(3)", [[0.5], [1.5, 2.5], []]),
            ("k", "J", [10, 20, 30]),
        ]
    )
    assert [f.dataType.simpleString() for f in schema.fields] == [
        "array<int>", "array<double>", "int",
    ]
    assert [list(v) for v in cols[0]] == [[1, 2, 3], [], [7]]
    assert [list(v) for v in cols[1]] == [[0.5], [1.5, 2.5], []]


def test_variable_length_spark_roundtrip(spark, tmp_path):
    blob = write_fits_bintable(
        [("id", "J", [1, 2]), ("hist", "PE(5)", [[1.0, 2.0, 3.0], [4.0]])]
    )
    (tmp_path / "v.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path / "v.fits"))
    rows = {r.id: r.hist for r in df.collect()}
    assert rows[1] == [1.0, 2.0, 3.0] and rows[2] == [4.0]


def test_truncated_file_rejected():
    blob = write_fits_bintable([("x", "J", [1, 2, 3])])
    with pytest.raises(FitsFormatError):
        decode_bintable(blob[:100])


def test_spark_read_fits_glob(spark, tmp_path):
    """Two FITS files read as one DataFrame through binaryFile+mapInArrow —
    per-file parallel decode (the multi-file ingest the reference loops
    over serially)."""
    for i in range(2):
        blob = write_fits_bintable(
            [
                ("id", "K", [i * 10 + 1, i * 10 + 2]),
                ("val", "D", [1.5 * i, 2.5 * i]),
                ("tag", "A6", [f"f{i}a", f"f{i}b"]),
            ]
        )
        (tmp_path / f"part{i}.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path))
    rows = sorted((r.id, r.val, r.tag) for r in df.collect())
    assert rows == [(1, 0.0, "f0a"), (2, 0.0, "f0b"), (11, 1.5, "f1a"), (12, 2.5, "f1b")]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["bigint", "double", "string"]


def test_fits_datasource_format(spark, tmp_path):
    """spark.read.format('fits') via the Python DataSource API."""
    from fits2db_spark.sources.fits_datasource import register

    for i in range(3):
        blob = write_fits_bintable(
            [("id", "J", [i * 2, i * 2 + 1]), ("flux", "E", [0.5 * i, 1.5 * i])]
        )
        (tmp_path / f"cat{i}.fits").write_bytes(blob)
    register(spark)
    df = spark.read.format("fits").load(str(tmp_path))
    assert df.count() == 6
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["int", "float"]
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4, 5]
    # filter + project through the datasource still works
    assert df.filter(df.id >= 4).select("flux").count() == 2


# ---------------------------------------------------------------------------
# Round-2 coverage: Spark-level round trips for the TFORM types the round-1
# advisory found broken end-to-end (B, rE, rL), TNULL/TSCAL/TZERO header
# semantics, multi-HDU selection (index + EXTNAME) across heaps and image
# extensions, and quoted '/' in card values.
# ---------------------------------------------------------------------------


def test_spark_roundtrip_byte_and_array_columns(spark, tmp_path):
    """'B' (unsigned byte) and repeat-count columns must survive the full
    Spark path (binaryFile + mapInArrow): uint8 arrays are Arrow-unsupported
    by Spark and 2D numpy arrays are rejected by pa.array — both previously
    crashed here despite passing decode-level tests."""
    blob = write_fits_bintable(
        [
            ("b8", "B", [0, 127, 255]),
            ("vec", "3E", [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [7.0, 8.0, 9.0]]),
            ("flags", "2L", [[True, False], [False, False], [True, True]]),
            ("ids", "2J", [[1, 2], [3, 4], [5, 6]]),
        ]
    )
    (tmp_path / "t.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path / "t.fits"))
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "smallint", "array<float>", "array<boolean>", "array<int>",
    ]
    rows = sorted(df.collect(), key=lambda r: r.b8)
    assert [r.b8 for r in rows] == [0, 127, 255]
    assert rows[2].vec == [1.0, 2.0, 3.0] or rows[0].vec == [1.0, 2.0, 3.0]
    assert {tuple(r.flags) for r in rows} == {(True, False), (False, False), (True, True)}
    assert sorted(tuple(r.ids) for r in rows) == [(1, 2), (3, 4), (5, 6)]


def test_tnull_sentinel_becomes_null(spark, tmp_path):
    blob = write_fits_bintable(
        [("x", "J", [1, -999, 3]), ("y", "I", [7, 8, -1])],
        extra_cards=[("TNULL1", -999), ("TNULL2", -1)],
    )
    (tmp_path / "n.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path / "n.fits"))
    rows = sorted(df.collect(), key=lambda r: (r.x is None, r.x))
    assert [(r.x, r.y) for r in rows] == [(1, 7), (3, None), (None, 8)]


def test_tscal_tzero_unsigned_conventions():
    """I + TZERO=32768 is the FITS uint16 convention; raw -32768 -> 0,
    raw 32767 -> 65535. Promoted to int (int32)."""
    blob = write_fits_bintable(
        [("u16", "I", [-32768, 0, 32767])],
        extra_cards=[("TZERO1", 32768), ("TSCAL1", 1)],
    )
    schema, cols = decode_bintable(blob)
    assert schema.fields[0].dataType.simpleString() == "int"
    assert list(cols[0]) == [0, 32768, 65535]


def test_tscal_float_scaling():
    blob = write_fits_bintable(
        [("flux", "I", [0, 10, 20])],
        extra_cards=[("TSCAL1", 0.5), ("TZERO1", 100.0)],
    )
    schema, cols = decode_bintable(blob)
    assert schema.fields[0].dataType.simpleString() == "double"
    assert list(cols[0]) == [100.0, 105.0, 110.0]


def test_multi_hdu_selection_by_index_and_name():
    from fits2db_spark.sources.fits import write_fits_multi

    blob = write_fits_multi(
        [
            # HDU 1 has a non-empty heap: skipping it must account for PCOUNT
            {"columns": [("a", "J", [1, 2])], "extname": "FIRST", "heap": b"\x01" * 123},
            {"columns": [("b", "D", [3.5])], "extname": "EVENTS"},
        ]
    )
    _, cols1 = decode_bintable(blob, 1)
    assert list(cols1[0]) == [1, 2]
    _, cols2 = decode_bintable(blob, 2)
    assert list(cols2[0]) == [3.5]
    # a numeric string is an index, as the CLI's --hdu and format("fits") pass it
    _, cols2 = decode_bintable(blob, "2")
    assert list(cols2[0]) == [3.5]
    _, cols_by_name = decode_bintable(blob, "events")
    assert list(cols_by_name[0]) == [3.5]
    with pytest.raises(FitsFormatError, match="not found"):
        decode_bintable(blob, "missing")


def test_image_extension_skipped_correctly():
    """An IMAGE extension between tables: data size = |BITPIX|/8 * prod(axes),
    which the round-1 table-only shortcut miscomputed."""
    from fits2db_spark.sources.fits import _bintable_ext, _card, _pad, _primary_hdu

    img_hdr = _pad(
        b"".join(
            [
                _card("XTENSION", "IMAGE"),
                _card("BITPIX", -32),
                _card("NAXIS", 2),
                _card("NAXIS1", 10),
                _card("NAXIS2", 7),
                _card("PCOUNT", 0),
                _card("GCOUNT", 1),
                b"END".ljust(80),
            ]
        ),
        b" ",
    )
    img = img_hdr + _pad(b"\x00" * (4 * 10 * 7))
    blob = _primary_hdu() + img + _bintable_ext([("z", "K", [42, 43])], "TAB")
    _, cols = decode_bintable(blob, 2)
    assert list(cols[0]) == [42, 43]
    _, cols = decode_bintable(blob, "tab")
    assert list(cols[0]) == [42, 43]


def test_quoted_slash_in_card_value():
    from fits2db_spark.sources.fits import _card_value

    assert _card_value("'erg/s/cm^2'          / surface flux unit") == "erg/s/cm^2"
    assert _card_value("'it''s'  / escaped quote") == "it's"
    assert _card_value("  42 / plain int") == "42"


def test_datasource_hdu_by_name(spark, tmp_path):
    from fits2db_spark.sources.fits import write_fits_multi
    from fits2db_spark.sources.fits_datasource import register

    blob = write_fits_multi(
        [
            {"columns": [("a", "J", [1])], "extname": "RAW"},
            {"columns": [("b", "J", [5, 6])], "extname": "CAL"},
        ]
    )
    (tmp_path / "m.fits").write_bytes(blob)
    register(spark)
    df = spark.read.format("fits").option("hdu", "CAL").load(str(tmp_path / "m.fits"))
    assert sorted(r.b for r in df.collect()) == [5, 6]


def test_datasource_row_range_partitions(spark, tmp_path, max_partition_bytes):
    """One large BINTABLE must split into multiple row-range partitions
    (spark.sql.files.maxPartitionBytes) and decode identically to the
    whole-file read — including a variable-length (P) column whose heap
    offsets are global."""
    from fits2db_spark.sources.fits import decode_bintable_range

    n = 1000
    blob = write_fits_bintable(
        [
            ("id", "J", list(range(n))),
            ("flux", "E", [0.5 * i for i in range(n)]),
            ("trace", "PE", [[float(j) for j in range(i % 4)] for i in range(n)]),
        ]
    )
    path = tmp_path / "big.fits"
    path.write_bytes(blob)
    whole = spark.read.format("fits").load(str(path))
    assert whole.rdd.getNumPartitions() == 1
    expect = {r.id: (r.flux, list(r.trace)) for r in whole.collect()}
    # 16 bytes per fixed row -> 4096-byte partitions of 256 rows
    max_partition_bytes(4096)
    df = spark.read.format("fits").load(str(path))
    assert df.rdd.getNumPartitions() > 1, "large table must split into row ranges"
    rows = {r.id: (r.flux, list(r.trace)) for r in df.collect()}
    assert len(rows) == n
    assert rows == expect
    # direct range decode: middle slice only
    _, cols = decode_bintable_range(str(path), 1, 10, 5)
    assert list(cols[0]) == list(range(10, 15))
    assert [list(v) for v in cols[2]] == [[float(j) for j in range(i % 4)] for i in range(10, 15)]


def test_row_range_reads_only_its_rows_heap_span(tmp_path, monkeypatch):
    """A row range of a table with a variable-length column reads the heap
    bytes its rows' descriptors address, not the whole heap, so slicing a
    partition into batches does not re-read the heap once per slice."""
    from fits2db_spark.sources import fits
    from fits2db_spark.sources.fits import decode_bintable_range

    n = 1000
    path = tmp_path / "vla.fits"
    path.write_bytes(
        write_fits_bintable(
            [("id", "J", list(range(n))), ("trace", "PE", [[float(i)] * (i % 3) * 50 for i in range(n)])]
        )
    )
    read_bytes = []
    real = fits._Blocks

    def counting(read, size):
        return real(lambda off, k: read_bytes.append(k) or read(off, k), size)

    monkeypatch.setattr(fits, "_Blocks", counting)
    _, cols = decode_bintable_range(str(path), 1, 500, 6)
    assert list(cols[0]) == list(range(500, 506))
    assert [list(v) for v in cols[1]] == [[float(i)] * (i % 3) * 50 for i in range(500, 506)]
    heap_bytes = sum(4 * (i % 3) * 50 for i in range(n))  # ~200 KB
    assert sum(read_bytes) < 4 * 2880 + 6 * 4 * 100 < heap_bytes / 10


def test_descriptor_outside_the_heap_is_rejected(tmp_path):
    """A P descriptor that points past the heap names the problem instead
    of decoding bytes of whatever follows the heap."""
    from fits2db_spark.sources.fits import decode_bintable_range, parse_bintable_header

    blob = bytearray(write_fits_bintable([("id", "J", [1, 2]), ("v", "PJ", [[1, 2], [3]])]))
    _, _, data_off = parse_bintable_header(bytes(blob), 1)
    # row 1's descriptor (count, offset) sits after its 4-byte id; the heap holds 12 bytes
    blob[data_off + 12 + 8 : data_off + 12 + 12] = (12).to_bytes(4, "big")
    (tmp_path / "bad.fits").write_bytes(bytes(blob))
    for rows in ((0, None), (1, 1)):
        with pytest.raises(FitsFormatError, match="outside the 12-byte heap"):
            decode_bintable_range(str(tmp_path / "bad.fits"), 1, *rows)
    assert [list(v) for v in decode_bintable_range(str(tmp_path / "bad.fits"), 1, 0, 1)[1][1]] == [[1, 2]]


def test_header_only_probe_matches_full_parse(spark, tmp_path):
    """parse_bintable_header on a path (seek-based, header-only I/O) must
    agree with it on the file's bytes for a multi-HDU file, selected by
    EXTNAME."""
    from fits2db_spark.sources.fits import parse_bintable_header, write_fits_multi

    blob = write_fits_multi(
        [
            {"columns": [("a", "J", [1, 2])], "extname": "FIRST", "heap": b"\x02" * 57},
            {"columns": [("b", "D", [3.0]), ("s", "A3", ["xy"])], "extname": "SECOND"},
        ]
    )
    path = tmp_path / "multi.fits"
    path.write_bytes(blob)
    for hdu in (1, 2, "SECOND", "first"):
        cards_m, cols_m, off_m = parse_bintable_header(blob, hdu)
        cards_p, cols_p, off_p = parse_bintable_header(str(path), hdu)
        assert off_m == off_p
        assert [c["name"] for c in cols_m] == [c["name"] for c in cols_p]
        assert cards_m == cards_p


def test_ascii_table_roundtrip(spark):
    """ASCII TABLE (XTENSION=TABLE): Aw/Iw/Fw.d/Ew.d fields, TNULL string
    sentinel -> NULL, Fortran D exponents, and Spark-level load."""
    from fits2db_spark.sources.fits import (
        decode_hdu,
        to_arrow_columns,
        write_fits_asciitable,
    )

    blob = write_fits_asciitable(
        [
            ("name", "A6", ["alpha", "beta", "gm"]),
            ("cnt", "I5", [12, None, -3]),
            ("mag", "F8.3", [1.25, 2.5, None]),
            ("flux", "E12.4", [1500.0, 0.25, 3.0]),
        ],
        extname="CAT",
        null_token="*",
    )
    schema, cols = decode_hdu(blob, 1)
    assert [f.dataType.simpleString() for f in schema.fields] == [
        "string", "bigint", "double", "double",
    ]
    assert list(cols[0]) == ["alpha", "beta", "gm"]
    assert cols[1][0] == 12 and cols[1][2] == -3
    assert bool(np.ma.getmaskarray(cols[1])[1])
    assert abs(cols[2][0] - 1.25) < 1e-9
    assert bool(np.ma.getmaskarray(cols[2])[2])
    assert abs(cols[3][0] - 1500.0) < 1e-6
    # through Spark via Arrow
    import pyarrow as pa

    tbl = pa.Table.from_arrays(to_arrow_columns(schema, cols), [f.name for f in schema.fields])
    df = spark.createDataFrame(tbl.to_pandas(), schema=schema)
    got = df.collect()
    assert got[1].cnt is None and got[2].mag is None
    assert got[0].name == "alpha"


def test_ascii_table_tscal_and_d_exponent(spark):
    """TSCAL/TZERO scaling on ASCII numerics, and 'D' exponents parse."""
    from fits2db_spark.sources.fits import decode_hdu, write_fits_asciitable

    blob = write_fits_asciitable(
        [("raw", "I4", [1, 2, 3])], extra_cards=[("TSCAL1", 0.5), ("TZERO1", 10.0)]
    )
    schema, cols = decode_hdu(blob, 1)
    assert schema.fields[0].dataType.simpleString() == "double"
    assert [float(v) for v in cols[0]] == [10.5, 11.0, 11.5]
    # a file with a Fortran D-exponent value (hand-edit an E field)
    blob2 = write_fits_asciitable([("x", "E12.4", [1500.0])])
    blob2 = blob2.replace(b"1.5000E+03", b"1.5000D+03")
    _, cols = decode_hdu(blob2, 1)
    assert abs(cols[0][0] - 1500.0) < 1e-6


def test_complex_types_roundtrip():
    """SURVEY.md §1.2: C (2xfloat32) / M (2xfloat64) -> struct<re,im>."""
    _, schema, cols = _roundtrip(
        [
            ("cf", "C", [1.5 + 2.5j, -3.0 - 4.0j]),
            ("cd", "M", [1e100 + 1e-100j, 0.0 + 0.0j]),
            ("cv", "3C", [[1 + 1j, 2 + 2j, 3 + 3j], [0j, 1j, 2j]]),
        ]
    )
    types = [f.dataType.simpleString() for f in schema.fields]
    assert types == [
        "struct<re:float,im:float>",
        "struct<re:double,im:double>",
        "array<struct<re:float,im:float>>",
    ]
    np.testing.assert_array_equal(cols[0], [1.5 + 2.5j, -3.0 - 4.0j])
    np.testing.assert_array_equal(cols[1], [1e100 + 1e-100j, 0.0 + 0.0j])
    np.testing.assert_array_equal(cols[2], [[1 + 1j, 2 + 2j, 3 + 3j], [0j, 1j, 2j]])


def test_complex_spark_roundtrip(spark, tmp_path):
    """Complex columns survive the full binaryFile+mapInArrow read path as
    queryable struct columns (col.re / col.im)."""
    from pyspark.sql import functions as F

    blob = write_fits_bintable(
        [("id", "J", [1, 2]), ("vis", "M", [3.0 + 4.0j, -1.0 + 0.5j])]
    )
    (tmp_path / "c.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path / "c.fits"))
    assert df.schema["vis"].dataType.simpleString() == "struct<re:double,im:double>"
    rows = {
        r.id: (r.re, r.im, r.amp)
        for r in df.select(
            "id",
            F.col("vis.re").alias("re"),
            F.col("vis.im").alias("im"),
            F.round(F.sqrt(F.col("vis.re") ** 2 + F.col("vis.im") ** 2), 6).alias("amp"),
        ).collect()
    }
    assert rows[1] == (3.0, 4.0, 5.0)
    assert rows[2] == (-1.0, 0.5, round((1.25) ** 0.5, 6))


def test_complex_scaling_rejected():
    blob = write_fits_bintable([("c", "C", [1 + 2j])])
    bad = blob.replace(b"TTYPE1  = 'c'", b"TSCAL1  = 2.0")
    with pytest.raises(FitsFormatError, match="complex"):
        decode_bintable(bad)


def test_variable_length_complex_rejected():
    blob = write_fits_bintable([("x", "J", [1])])
    bad = blob.replace(b"TFORM1  = 'J'", b"TFORM1  = 'PC(5)'")
    with pytest.raises(FitsFormatError, match="element type"):
        decode_bintable(bad)


# ---------------------------------------------------------------------------
# Round 5: tile-compressed (ZTABLE) BINTABLEs — RICE_1 + GZIP_1
# ---------------------------------------------------------------------------

def test_rice_codec_roundtrip_shapes():
    from fits2db_spark.sources.fits_compress import rice_decode, rice_encode

    rng = np.random.default_rng(7)
    cases = [
        (np.zeros(100, dtype=np.int64), 2),                      # all-zero diffs
        (np.arange(1000, dtype=np.int64), 4),                    # constant diff
        (rng.integers(-30, 30, 257).cumsum(), 4),                # smooth walk
        (rng.integers(-2**31, 2**31 - 1, 99, dtype=np.int64), 4),  # noise -> escape blocks
        (rng.integers(-128, 127, 64), 1),
        (rng.integers(-2**15, 2**15 - 1, 33), 2),
        (np.array([5], dtype=np.int64), 4),                      # single sample
        (np.array([], dtype=np.int64), 2),                       # empty
    ]
    for vals, bytepix in cases:
        lo, hi = -(2 ** (8 * bytepix - 1)), 2 ** (8 * bytepix - 1) - 1
        vals = np.clip(vals, lo, hi)
        buf = rice_encode(vals, bytepix)
        out = rice_decode(buf, len(vals), bytepix)
        assert np.array_equal(out, vals), (bytepix, vals[:5])


def test_rice_compresses_smooth_data():
    """Smooth (small-difference) data must actually compress — the point of
    Rice coding on sky images / ordered catalogs."""
    from fits2db_spark.sources.fits_compress import rice_encode

    rng = np.random.default_rng(11)
    smooth = rng.integers(-4, 4, 4096).cumsum()
    assert len(rice_encode(smooth, 4)) < 4096 * 4 / 3


def test_ztable_roundtrip_all_types():
    from fits2db_spark.sources.fits import decode_bintable
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    n = 250
    rng = np.random.default_rng(3)
    cols = [
        ("ID", "J", list(range(n))),                                 # RICE
        ("SHRT", "I", [int(x) for x in rng.integers(-999, 999, n)]),  # RICE
        ("BYTE", "B", [int(x) for x in rng.integers(0, 255, n)]),     # RICE
        ("BIG", "K", [int(x) * 10**12 for x in range(n)]),            # GZIP
        ("FLUX", "D", [round(float(x), 6) for x in rng.normal(0, 1, n)]),  # GZIP
        ("MAG", "E", [float(np.float32(x)) for x in rng.normal(20, 2, n)]),
        ("NAME", "A8", [f"obj{i:05d}" for i in range(n)]),
        ("OK", "L", [bool(i % 3) for i in range(n)]),
        ("VEC", "3E", [[float(np.float32(i)), 0.5, -1.25] for i in range(n)]),
    ]
    blob = write_fits_bintable_compressed(cols, tile_len=64, extname="CAT")
    schema, out = decode_bintable(blob, 1)
    assert [f.name for f in schema.fields] == [c[0] for c in cols]
    assert list(out[0]) == list(range(n))
    assert [int(x) for x in out[1]] == cols[1][2]
    assert [int(x) for x in out[2]] == cols[2][2]
    assert [int(x) for x in out[3]] == cols[3][2]
    assert np.allclose(out[4], cols[4][2])
    assert np.allclose(out[5], cols[5][2], rtol=1e-6)
    assert list(out[6]) == cols[6][2]
    assert list(out[7]) == cols[7][2]
    assert np.allclose(out[8], cols[8][2])


def test_ztable_matches_uncompressed_decode():
    """Compressed and plain encodings of the same table decode identically
    (lossless), including a TNULL sentinel column."""
    from fits2db_spark.sources.fits import decode_bintable, write_fits_bintable
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    n = 130
    cols = [
        ("A", "J", [i * 3 - 50 for i in range(n)]),
        ("B", "D", [i / 7.0 for i in range(n)]),
    ]
    extra = [("TNULL1", -50)]
    plain = write_fits_bintable(cols, extra_cards=extra)
    comp = write_fits_bintable_compressed(cols, tile_len=33, extra_cards=extra)
    s1, o1 = decode_bintable(plain, 1)
    s2, o2 = decode_bintable(comp, 1)
    assert s1 == s2
    for a, b in zip(o1, o2):
        assert np.ma.allequal(np.ma.masked_invalid(a), np.ma.masked_invalid(b))
    # the sentinel row is masked in both
    assert bool(np.ma.getmaskarray(o2[0])[0])


def test_ztable_row_range_touches_only_tiles(tmp_path):
    from fits2db_spark.sources.fits import decode_bintable_range
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    n = 1000
    cols = [("ID", "J", list(range(n))), ("V", "E", [float(i) / 2 for i in range(n)])]
    p = tmp_path / "comp.fits"
    write_fits_bintable_compressed(cols, tile_len=100, out=open(p, "wb"))
    # a range straddling two tiles
    schema, out = decode_bintable_range(str(p), 1, row_start=150, row_count=100)
    assert list(out[0]) == list(range(150, 250))
    assert np.allclose(out[1], [i / 2 for i in range(150, 250)])
    # full-table range decode
    _, full = decode_bintable_range(str(p), 1)
    assert list(full[0]) == list(range(n))
    # tail clamp
    _, tail = decode_bintable_range(str(p), 1, row_start=950, row_count=500)
    assert list(tail[0]) == list(range(950, 1000))


def test_ztable_through_spark_reader(spark, tmp_path):
    from fits2db_spark.sources.fits import read_fits
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    n = 300
    cols = [
        ("ID", "J", list(range(n))),
        ("FLUX", "D", [i * 0.25 for i in range(n)]),
        ("NAME", "A6", [f"s{i:04d}" for i in range(n)]),
    ]
    p = tmp_path / "cat_comp.fits"
    write_fits_bintable_compressed(cols, tile_len=128, out=open(p, "wb"), extname="CAT")
    df = read_fits(spark, str(p), hdu="CAT")
    assert df.count() == n
    got = {r.ID: (r.FLUX, r.NAME) for r in df.collect()}
    assert got[42] == (10.5, "s0042")


def test_ztable_rejects_bitfield_and_bad_vla_algo():
    import pytest as _pytest

    from fits2db_spark.sources.fits import FitsFormatError
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    with _pytest.raises(FitsFormatError, match="cannot be tile-compressed"):
        write_fits_bintable_compressed([("M", "8X", [b"\xff", b"\x00"])])
    # VLA compresses with GZIP_1/NOCOMPRESS only — RICE needs fixed width
    with _pytest.raises(FitsFormatError, match="GZIP_1 or"):
        write_fits_bintable_compressed(
            [("V", "PJ", [[1, 2], [3]])], algos={"V": "RICE_1"}
        )


def test_ztable_vla_roundtrip(tmp_path):
    """Compressed VLA (r8 verdict missing item 5): P/Q descriptor columns
    inside a tile-compressed BINTABLE, heap offsets relative to the
    decompressed tile — whole-table and row-range decode both recover the
    per-row arrays exactly, and ranges still touch only overlapped tiles."""
    from fits2db_spark.sources.fits import decode_bintable, decode_bintable_range
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    n = 257  # deliberately not a multiple of the tile length
    pj = [[i, i * 2, i * 3][: (i % 4)] for i in range(n)]  # ragged, some empty
    qe = [[float(np.float32(i / 7.0))] * (i % 3) for i in range(n)]
    pl = [[bool((i + j) % 2) for j in range(i % 5)] for i in range(n)]
    cols = [
        ("ID", "J", list(range(n))),        # RICE fixed-width alongside
        ("VJ", "PJ", pj),                   # int32 VLA, 32-bit descriptors
        ("VE", "QE", qe),                   # float32 VLA, 64-bit descriptors
        ("VL", "PL", pl),                   # logical VLA
    ]
    p = tmp_path / "vla.fits"
    write_fits_bintable_compressed(cols, tile_len=64, out=open(p, "wb"), extname="VLA")
    blob = open(p, "rb").read()

    schema, out = decode_bintable(blob, 1)
    assert [f.name for f in schema.fields] == ["ID", "VJ", "VE", "VL"]
    assert list(out[0]) == list(range(n))
    assert [list(map(int, v)) for v in out[1]] == pj
    for got, want in zip(out[2], qe):
        assert np.allclose(got, want)
    assert [list(map(bool, v)) for v in out[3]] == pl

    # row range straddling tile boundaries: offsets rebase per-tile
    _, rng_out = decode_bintable_range(str(p), 1, row_start=60, row_count=10)
    assert list(rng_out[0]) == list(range(60, 70))
    assert [list(map(int, v)) for v in rng_out[1]] == pj[60:70]
    assert [list(map(bool, v)) for v in rng_out[3]] == pl[60:70]
    # tail clamp across the short last tile
    _, tail = decode_bintable_range(str(p), 1, row_start=250, row_count=99)
    assert [list(map(int, v)) for v in tail[1]] == pj[250:]


def test_gzip2_byte_shuffle_roundtrip_and_wins_on_floats():
    from fits2db_spark.sources.fits import decode_bintable
    from fits2db_spark.sources.fits_compress import (
        _compress_cell,
        _decompress_cell,
        write_fits_bintable_compressed,
    )

    # codec-level: shuffle is exactly inverted
    rng = np.random.default_rng(5)
    vals = (rng.normal(1000, 1, 500)).astype(">f8")
    raw = vals.tobytes()
    c2 = _compress_cell(raw, "GZIP_2", "D", 8)
    assert _decompress_cell(c2, "GZIP_2", "D", 500, 8) == raw
    # byte-shuffling clusters the similar exponent/high-mantissa bytes, so
    # GZIP_2 must beat plain GZIP_1 on smooth doubles
    c1 = _compress_cell(raw, "GZIP_1", "D", 8)
    assert len(c2) < len(c1)
    # end-to-end: D defaults to GZIP_2 and round-trips losslessly
    n = 200
    cols = [("X", "D", [float(i) * 0.125 + 1000 for i in range(n)])]
    blob = write_fits_bintable_compressed(cols, tile_len=64)
    assert b"GZIP_2" in blob  # default algo recorded in ZCTYP1
    _, out = decode_bintable(blob, 1)
    assert list(out[0]) == cols[0][2]


def test_ztable_datasource_partitioned_read(spark, tmp_path, max_partition_bytes):
    """format('fits') on a tile-compressed table must plan partitions in
    ORIGINAL-row space (container NAXIS2 counts tiles) and align them to
    tile boundaries — a tiny spark.sql.files.maxPartitionBytes forces
    multiple partitions and the union must still be exactly the source
    rows."""
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    n = 1000
    cols = [("ID", "J", list(range(n))), ("V", "D", [i / 4.0 for i in range(n)])]
    p = tmp_path / "part_comp.fits"
    write_fits_bintable_compressed(cols, tile_len=100, out=open(p, "wb"))
    # 4 KB partitions vs 12-byte original rows -> hundreds of original rows
    # per partition, tile-aligned, several partitions
    max_partition_bytes(4096)
    df = spark.read.format("fits").load(str(p))
    assert df.rdd.getNumPartitions() > 1
    got = sorted((r.ID, r.V) for r in df.collect())
    assert got == [(i, i / 4.0) for i in range(n)]


def test_ztable_empty_table_and_bad_tile_len():
    import pytest as _pytest

    from fits2db_spark.sources.fits import decode_bintable
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    blob = write_fits_bintable_compressed([("A", "J", []), ("B", "D", [])], tile_len=10)
    schema, out = decode_bintable(blob, 1)
    assert [f.name for f in schema.fields] == ["A", "B"]
    assert all(len(c) == 0 for c in out)
    with _pytest.raises(ValueError, match="tile_len"):
        write_fits_bintable_compressed([("A", "J", [1])], tile_len=0)


def test_ztable_complex_column_roundtrip():
    from fits2db_spark.sources.fits import decode_bintable
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    vals = [complex(i, -i / 2) for i in range(50)]
    blob = write_fits_bintable_compressed([("Z", "C", vals)], tile_len=16)
    schema, out = decode_bintable(blob, 1)
    assert schema.fields[0].dataType.fieldNames() == ["re", "im"]
    assert (out[0] == vals).all()


def test_image_extension_roundtrip_and_scaling():
    import numpy as np

    from fits2db_spark.sources.fits import decode_hdu, write_fits_image

    img = np.arange(12, dtype="i2").reshape(3, 4)
    schema, (x, y, val) = decode_hdu(write_fits_image(img, bscale=2.0, bzero=-5.0))
    assert [f.name for f in schema.fields] == ["x", "y", "val"]
    assert len(x) == 12
    # x fastest (NAXIS1), row-major
    assert list(x[:5]) == [0, 1, 2, 3, 0] and list(y[:5]) == [0, 0, 0, 0, 1]
    assert val[7] == -5.0 + 2.0 * img[1, 3]


def test_image_float_and_byte_dtypes():
    import numpy as np

    from fits2db_spark.sources.fits import decode_hdu, write_fits_image

    f = np.linspace(-1, 1, 8, dtype="f4").reshape(2, 4)
    _, (_, _, val) = decode_hdu(write_fits_image(f.astype(">f4")))
    assert abs(val[5] - f[1, 1]) < 1e-7
    b = np.arange(6, dtype="u1").reshape(2, 3)
    _, (_, _, vb) = decode_hdu(write_fits_image(b))
    assert list(vb) == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]


def test_image_extname_selection_and_checksum():
    import numpy as np

    from fits2db_spark.sources.fits import (
        add_checksums,
        decode_hdu,
        verify_checksums,
        write_fits_image,
    )

    blob = add_checksums(
        write_fits_image(np.ones((4, 4), dtype="i2"), extname="SCI")
    )
    assert all(r["checksum_ok"] for r in verify_checksums(blob))
    _, (_, _, val) = decode_hdu(blob, "SCI")
    assert set(val) == {1.0}


def test_image_spark_read_path(spark, tmp_path):
    import numpy as np

    from fits2db_spark.sources.fits import read_fits, write_fits_image

    img = (np.arange(64, dtype="i4") * 3).reshape(8, 8)
    (tmp_path / "img.fits").write_bytes(write_fits_image(img, extname="SCI"))
    df = read_fits(spark, str(tmp_path / "img.fits"), hdu="SCI")
    rows = {(r.x, r.y): r.val for r in df.collect()}
    assert len(rows) == 64
    assert rows[(3, 2)] == float(img[2, 3])


def test_catalog_hdus_manifest_and_byte_accounting():
    from fits2db_spark.sources.fits import catalog_hdus, write_fits_multi

    blob = write_fits_multi(
        [
            {
                "columns": [("k", "J", [1, 2, 3]), ("s", "A8", ["a", "b", "c"])],
                "extname": "FIRST",
            },
            {
                "columns": [("x", "D", [1.0] * 10)],
                "extname": "SECOND",
            },
        ]
    )
    cat = catalog_hdus(blob)
    assert [e["hdu"] for e in cat] == [0, 1, 2]
    assert cat[0]["xtension"] == "PRIMARY" and cat[0]["n_rows"] == 0
    assert cat[1] == {
        "hdu": 1,
        "extname": "FIRST",
        "xtension": "BINTABLE",
        "n_rows": 3,
        "n_cols": 2,
        "data_bytes": 3 * (4 + 8),
    }
    assert cat[2]["extname"] == "SECOND"
    assert cat[2]["n_rows"] == 10 and cat[2]["n_cols"] == 1
    assert cat[2]["data_bytes"] == 10 * 8
    # the walk must consume the file exactly (every HDU accounted for)
    from fits2db_spark.sources.fits import BLOCK

    total = sum(
        ((e["data_bytes"] + BLOCK - 1) // BLOCK * BLOCK) for e in cat
    )
    assert total < len(blob)  # headers occupy the rest


def test_catalog_hdus_rejects_truncation():
    from fits2db_spark.sources.fits import FitsFormatError, catalog_hdus, write_fits_multi

    blob = write_fits_multi(
        [{"columns": [("k", "J", list(range(1000)))], "extname": "T"}]
    )
    with pytest.raises(FitsFormatError):
        catalog_hdus(blob[: len(blob) - 2880])


def test_read_fits_catalog_distributed(spark, tmp_path):
    from fits2db_spark.sources.fits import read_fits_catalog, write_fits_multi

    for i in range(2):
        blob = write_fits_multi(
            [{"columns": [("k", "J", list(range(i + 2)))], "extname": f"T{i}"}]
        )
        (tmp_path / f"f{i}.fits").write_bytes(blob)
    rows = {
        (r.file, r.hdu): (r.extname, r.xtension, r.n_rows, r.n_cols)
        for r in read_fits_catalog(spark, str(tmp_path)).collect()
    }
    assert rows[("f0.fits", 1)] == ("T0", "BINTABLE", 2, 1)
    assert rows[("f1.fits", 1)] == ("T1", "BINTABLE", 3, 1)
    assert rows[("f0.fits", 0)][1] == "PRIMARY"


def test_read_fits_catalog_reads_headers_only(spark, tmp_path):
    """The catalog walks header blocks by path: a sparse BINTABLE whose
    header declares 2.4 GB of rows catalogs without its data area ever
    being read (a whole-file read fails on any file over 2 GiB)."""
    from fits2db_spark.sources.fits import (
        parse_bintable_header,
        read_fits_catalog,
        write_fits_bintable,
    )

    n_rows = 300_000_000  # 8-byte rows: 2.4e9 data bytes
    blob = write_fits_bintable([("k", "K", [1])])
    _, _, data_off = parse_bintable_header(blob, 1)
    header = blob[:data_off]
    at = header.index(b"NAXIS2  = ")
    header = header[:at] + f"{'NAXIS2':<8}= {n_rows:>20}".ljust(80).encode() + header[at + 80 :]
    big = tmp_path / "big.fits"
    with open(big, "wb") as f:
        f.write(header)
        f.truncate(data_off + -(-8 * n_rows // 2880) * 2880)
    assert big.stat().st_size > 2**31
    rows = {
        r.hdu: (r.xtension, r.n_rows, r.n_cols, r.data_bytes)
        for r in read_fits_catalog(spark, str(big)).collect()
    }
    assert rows == {0: ("PRIMARY", 0, 0, 0), 1: ("BINTABLE", n_rows, 1, 8 * n_rows)}


def test_datasource_pushfilters_accepts_and_applies(tmp_path):
    """pushFilters must ACCEPT EqualTo/GreaterThan/LessThan on flat scalar
    columns (returning nothing back to Spark) and the reader must then drop
    non-matching rows inside read(); unsupported shapes are yielded back."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from fits2db_spark.sources.fits import write_fits_bintable
    from fits2db_spark.sources.fits_datasource import FitsDataSource

    n = 50
    p = tmp_path / "push.fits"
    blob = write_fits_bintable(
        [
            ("ID", "J", list(range(n))),
            ("NAME", "A8", [f"row{i}" for i in range(n)]),
        ]
    )
    p.write_bytes(blob)
    schema = StructType(
        [StructField("ID", LongType()), StructField("NAME", StringType())]
    )
    reader = FitsDataSource({"path": str(p), "hdu": "1"}).reader(schema)
    flt = [
        GreaterThan(("ID",), 9),
        LessThan(("ID",), 20),
        EqualTo(("NAME", "nested"), "x"),  # nested path: must bounce back
    ]
    leftover = list(reader.pushFilters(flt))
    assert leftover == [flt[2]], "only the nested filter returns to Spark"
    (part,) = reader.partitions()
    (batch,) = list(reader.read(part))
    ids = batch.column(0).to_pylist()
    assert ids == list(range(10, 20)), "pushed range applied inside read()"


def test_datasource_pushdown_end_to_end(spark, tmp_path):
    """The full plan must return exactly the predicate's rows (Catalyst
    drops its re-filter for fully-pushed predicates, so any pushdown bug
    becomes a wrong RESULT, not just a slow plan)."""
    from fits2db_spark.sources.fits import write_fits_bintable
    from fits2db_spark.sources.fits_datasource import register

    n = 200
    p = tmp_path / "push_e2e.fits"
    p.write_bytes(
        write_fits_bintable(
            [("ID", "J", list(range(n))), ("V", "D", [i / 2.0 for i in range(n)])]
        )
    )
    from pyspark.sql import functions as F

    register(spark)
    df = spark.read.format("fits").load(str(p)).filter((F.col("ID") > 150) & (F.col("V") < 88.0))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both comparisons were pushed: Spark's filter keeps only the null checks
    assert "BatchScan fits" in plan and " > 150" not in plan and " < 88.0" not in plan, plan
    assert sorted((r.ID, r.V) for r in df.collect()) == [(i, i / 2.0) for i in range(151, 176)]


def test_datasource_pushdown_nan_matches_spark_semantics(spark, tmp_path):
    """Spark orders NaN ABOVE every numeric and NaN = NaN is true; Arrow's
    IEEE kernels compare NaN false to everything.  Since Catalyst drops its
    re-evaluation of fully-pushed predicates, the pushed mask must
    reproduce Spark's ordering — on a double column containing NaN (the
    standard FITS float null), the pushed filter must return EXACTLY the
    rows a native Spark evaluation of the same data returns: the same
    predicate over createDataFrame."""
    from fits2db_spark.sources.fits import write_fits_bintable
    from fits2db_spark.sources.fits_datasource import register

    nan = float("nan")
    vals = [1.0, 5.0, nan, 10.0, nan, 42.0]
    p = tmp_path / "nanpush.fits"
    p.write_bytes(
        write_fits_bintable(
            [("ID", "J", list(range(len(vals)))), ("V", "D", vals)]
        )
    )
    from pyspark.sql import functions as F

    register(spark)
    control = spark.createDataFrame(
        list(zip(range(len(vals)), vals)), "ID bigint, V double"
    )

    def ids(df, predicate) -> list[int]:
        return sorted(r.ID for r in df.filter(predicate).collect())

    fits_df = spark.read.format("fits").load(str(p))
    # NaN > 4.0 is TRUE in Spark (NaN sorts above every numeric)
    gt = F.col("V") > 4.0
    assert ids(fits_df, gt) == ids(control, gt) == [1, 2, 3, 4, 5]
    # NaN < 100.0 is FALSE in Spark (and in IEEE — stays false pushed)
    lt = F.col("V") < 100.0
    assert ids(fits_df, lt) == ids(control, lt) == [0, 1, 3, 5]
    # V = finite never matches NaN rows in either engine
    eq = F.col("V") == 5.0
    assert ids(fits_df, eq) == ids(control, eq) == [1]
    # NaN literal: pushFilters yields it back; Spark's post-scan
    # filter evaluates NaN = NaN as true
    eq_nan = F.col("V") == F.lit(nan)
    assert ids(fits_df, eq_nan) == ids(control, eq_nan) == [2, 4]


def test_datasource_pushfilters_yields_back_nan_literal(tmp_path):
    """A NaN comparison literal cannot be expressed as one Arrow kernel
    under Spark semantics — pushFilters must bounce it back to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThan
    from pyspark.sql.types import DoubleType, StructField, StructType

    from fits2db_spark.sources.fits import write_fits_bintable
    from fits2db_spark.sources.fits_datasource import FitsDataSource

    nan = float("nan")
    p = tmp_path / "nanlit.fits"
    p.write_bytes(write_fits_bintable([("V", "D", [1.0, nan])]))
    schema = StructType([StructField("V", DoubleType())])
    reader = FitsDataSource({"path": str(p), "hdu": "1"}).reader(schema)
    flt = [EqualTo(("V",), nan), GreaterThan(("V",), nan), GreaterThan(("V",), 0.5)]
    leftover = list(reader.pushFilters(flt))
    assert leftover == flt[:2], "NaN literals return to Spark; finite pushes"
    assert reader._pushed == [("V", "GreaterThan", 0.5)]


def test_tunit_tdisp_become_column_metadata(spark, tmp_path):
    """TUNITn / TDISPn header conventions (FITS 4.0 §7.3.2) ride through
    to Spark StructField metadata — values never change, but sinks and
    display formatting consume them."""
    from fits2db_spark.sources.fits import read_fits, write_fits_bintable

    blob = write_fits_bintable(
        [("ra", "D", [10.5, 211.25]), ("name", "A8", ["a", "b"])],
        extra_cards=[("TUNIT1", "deg"), ("TDISP1", "F10.4"), ("TDISP2", "A8")],
    )
    (tmp_path / "u.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path / "u.fits"))
    md = {f.name: f.metadata for f in df.schema.fields}
    assert md["ra"]["fits.tunit"] == "deg"
    assert md["ra"]["fits.tdisp"] == "F10.4"
    assert md["name"]["fits.tdisp"] == "A8"
    assert "fits.tunit" not in md["name"]


def test_format_tdisp_renders_display_formats(spark):
    from fits2db_spark.sources.fits import format_tdisp

    df = spark.createDataFrame(
        [(42, 3.14159, 12345.678, "hi")], "i bigint, f double, e double, s string"
    )
    r = df.select(
        format_tdisp("i", "I6").alias("i"),
        format_tdisp("f", "F8.2").alias("f"),
        format_tdisp("e", "E12.3").alias("e"),
        format_tdisp("s", "A5").alias("s"),
        format_tdisp("i", "nonsense").alias("raw"),
    ).first()
    assert r.i == "    42"
    assert r.f == "    3.14"
    assert r.e == "   1.235E+04"
    assert r.s == "hi   "
    assert r.raw == "42"


def test_votable_field_carries_fits_unit(spark, tmp_path):
    from fits2db_spark.sinks.votable import write_votable
    from fits2db_spark.sources.fits import read_fits, write_fits_bintable

    blob = write_fits_bintable(
        [("flux", "D", [1.0])], extra_cards=[("TUNIT1", "erg/s/cm^2")]
    )
    (tmp_path / "v.fits").write_bytes(blob)
    df = read_fits(spark, str(tmp_path / "v.fits"))
    write_votable(df, str(tmp_path / "v.vot"))
    xml = (tmp_path / "v.vot").read_text()
    assert 'unit="erg/s/cm^2"' in xml and 'name="flux"' in xml
