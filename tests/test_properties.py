"""Property-based invariants (SURVEY.md §5.3) over generated inputs:
algebraic laws the engine must preserve regardless of data."""

import numpy as np

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-100, max_value=100),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        st.sampled_from(["a", "b", "c", None]),
    ),
    min_size=0,
    max_size=60,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, tag string")


@given(rows=ROWS)
@_settings
def test_filter_complement_partitions_rows(spark, rows):
    df = _df(spark, rows)
    p = F.col("v") > 0
    n = df.count()
    # null-safe complement: p | ~p must cover every row
    assert df.filter(p).count() + df.filter(~p | p.isNull()).count() == n


@given(rows=ROWS)
@_settings
def test_union_all_cardinality(spark, rows):
    df = _df(spark, rows)
    assert df.unionByName(df).count() == 2 * df.count()


@given(rows=ROWS)
@_settings
def test_dedup_idempotent(spark, rows):
    df = _df(spark, rows)
    once = df.dropDuplicates().count()
    assert df.dropDuplicates().dropDuplicates().count() == once
    assert once <= max(df.count(), 0)


@given(rows=ROWS)
@_settings
def test_row_number_is_bijective(spark, rows):
    from pyspark.sql import Window

    df = _df(spark, rows)
    w = Window.orderBy("k", "v", "tag")
    rn = df.select(F.row_number().over(w).alias("rn"))
    n = df.count()
    got = sorted(r.rn for r in rn.collect())
    assert got == list(range(1, n + 1))


@given(rows=ROWS)
@_settings
def test_inner_join_bounded_by_key_product(spark, rows):
    df = _df(spark, rows)
    a = df.groupBy("k").count().withColumnRenamed("count", "ca")
    b = df.groupBy("k").count().withColumnRenamed("count", "cb")
    joined = df.alias("x").join(df.alias("y"), "k").count()
    expected = (
        a.join(b, "k").select(F.sum(F.col("ca") * F.col("cb")).alias("s")).collect()[0].s
    )
    assert joined == (expected or 0)


def test_minhash_identical_docs_get_identical_signatures(spark):
    from fits2db_spark.operators.llm_text import _doc_shingle_arrays, _minhash_sig

    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today")]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    sig = _minhash_sig(_doc_shingle_arrays(d)).collect()
    s1 = [v for k, v in sorted(sig[0].asDict().items()) if k != "doc_id"]
    s2 = [v for k, v in sorted(sig[1].asDict().items()) if k != "doc_id"]
    assert s1 == s2


_FITS_VALS = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.floats(min_value=-1e30, max_value=1e30, allow_nan=False, width=64),
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=8).map(
            lambda s: s.replace("'", " ").strip()
        ),
    ),
    min_size=1,
    max_size=40,
)


@given(vals=_FITS_VALS)
@_settings
def test_fits_bintable_roundtrip_property(vals):
    """write_fits_bintable -> decode_bintable is the identity on J/D/A
    columns for arbitrary values (byte-level format invariant, no Spark)."""
    import numpy as np

    from fits2db_spark.sources.fits import decode_bintable, write_fits_bintable

    ints = [v[0] for v in vals]
    dbls = [v[1] for v in vals]
    strs = [v[2] for v in vals]
    width = max(1, max((len(s) for s in strs), default=1))
    blob = write_fits_bintable(
        [("i", "J", ints), ("d", "D", dbls), ("s", f"A{width}", strs)]
    )
    _, cols = decode_bintable(blob, 1)
    assert list(cols[0]) == ints
    assert np.allclose(cols[1], dbls, rtol=0, atol=0)
    assert list(cols[2]) == [s.rstrip() for s in strs]


@given(vals=_FITS_VALS)
@_settings
def test_fits_asciitable_roundtrip_property(vals):
    """write_fits_asciitable -> decode_hdu round-trips I/F/A fields
    (within the fixed-point precision the F format declares)."""
    from fits2db_spark.sources.fits import decode_hdu, write_fits_asciitable

    ints = [v[0] for v in vals]
    dbls = [max(-1e9, min(1e9, v[1])) for v in vals]
    strs = [v[2] for v in vals]
    width = max(1, max((len(s) for s in strs), default=1))
    blob = write_fits_asciitable(
        [("i", "I12", ints), ("f", "F24.6", dbls), ("s", f"A{width}", strs)]
    )
    _, cols = decode_hdu(blob, 1)
    assert [int(v) for v in cols[0]] == ints
    for got, want in zip(cols[1], dbls):
        assert abs(got - want) <= max(1e-6, abs(want)) * 1e-6 + 1e-6
    assert list(cols[2]) == [s.rstrip() for s in strs]


@given(
    vals=st.lists(st.integers(-2**31, 2**31 - 1), min_size=0, max_size=300),
    bytepix=st.sampled_from([1, 2, 4]),
)
@_settings
def test_rice_codec_roundtrip_property(vals, bytepix):
    """rice_encode -> rice_decode is the identity for ANY signed sequence of
    the declared width — including adversarial block boundaries, all-equal
    runs, alternating extremes, and wrap-around diffs."""
    from fits2db_spark.sources.fits_compress import rice_decode, rice_encode

    lo, hi = -(2 ** (8 * bytepix - 1)), 2 ** (8 * bytepix - 1) - 1
    arr = np.array([max(lo, min(hi, v)) for v in vals], dtype=np.int64)
    out = rice_decode(rice_encode(arr, bytepix), len(arr), bytepix)
    assert np.array_equal(out, arr)


@given(
    vals=st.lists(
        st.one_of(
            st.integers(-10**6, 10**6),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ).map(float),
        min_size=1,
        max_size=120,
    ),
    tile_len=st.integers(1, 50),
)
@_settings
def test_ztable_double_column_roundtrip_property(vals, tile_len):
    """Tile-compressed D columns are lossless for arbitrary finite doubles
    at ANY tile length (incl. tile_len 1 and tiles larger than the table)."""
    from fits2db_spark.sources.fits import decode_bintable
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    blob = write_fits_bintable_compressed([("x", "D", vals)], tile_len=tile_len)
    _, out = decode_bintable(blob, 1)
    assert list(out[0]) == vals


@given(
    samples=st.lists(st.integers(min_value=-32768, max_value=32767), max_size=400),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(deadline=None, max_examples=40)
def test_wav_roundtrip_property(samples, rate):
    import numpy as np

    from fits2db_spark.operators.multimodal import decode_wav, write_wav

    x = np.array(samples, dtype="<i2")
    got_rate, back = decode_wav(write_wav(x, rate))
    assert got_rate == rate
    assert list(back) == samples


@given(
    hdus=st.lists(
        st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=40),
        min_size=1,
        max_size=3,
    ),
    flip=st.integers(min_value=0, max_value=10**9),
)
# the flip lands in the second HDU's DATASUM value, which stops being a number
@example(hdus=[[0]], flip=3690)
@settings(deadline=None, max_examples=30)
def test_checksum_stamp_verify_tamper_property(hdus, flip):
    from fits2db_spark.sources.fits import (
        add_checksums,
        verify_checksums,
        write_fits_multi,
    )

    blob = add_checksums(
        write_fits_multi([{"columns": [("v", "J", vals)]} for vals in hdus])
    )
    assert all(r["checksum_ok"] and r["datasum_ok"] for r in verify_checksums(blob))
    # flip one byte ANYWHERE -> detected: either a checksum mismatch in
    # some HDU, or (when the flip lands on a structural header card and
    # the file can no longer be walked) a loud parse error — silence is
    # the only failure mode
    from fits2db_spark.sources.fits import FitsFormatError

    t = bytearray(blob)
    pos = flip % len(t)
    t[pos] ^= 0x5A
    try:
        results = verify_checksums(bytes(t))
    except FitsFormatError:
        return
    assert any(r["checksum_ok"] is False for r in results)


def test_floor_log2_tree_matches_bit_length():
    """The HLL rank helper's integer binary-search tree must equal the
    exact floor(log2(v)) (= bit_length - 1) for every width and for
    random values across the full 51-bit tail range."""
    import random

    from pyspark.sql import functions as F

    from fits2db_spark.operators.aggregates import _HLL_W, _floor_log2_sql

    import duckdb

    con = duckdb.connect()
    rng = random.Random(42)
    vals = (
        [1, 2, 3, 4, 7, 8, (1 << _HLL_W) - 1]
        + [1 << k for k in range(_HLL_W)]
        + [rng.randrange(1, 1 << _HLL_W) for _ in range(200)]
    )
    expr = _floor_log2_sql("v", _HLL_W)
    got = con.execute(
        f"SELECT v, {expr} FROM (SELECT unnest(?) AS v)", [vals]
    ).fetchall()
    for v, fl in got:
        assert fl == v.bit_length() - 1, (v, fl)


def test_interleave_helpers_agree_with_python():
    """Spark/DuckDB bit-interleave helpers vs a reference implementation."""
    import random

    import duckdb

    from fits2db_spark.operators.etl import _interleave_sql

    def ref(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rng = random.Random(7)
    con = duckdb.connect()
    pairs = [(rng.randrange(0, 1 << 15), rng.randrange(0, 1 << 15)) for _ in range(100)]
    for x, y in pairs:
        got = con.execute(f"SELECT {_interleave_sql(str(x), str(y), 15)}").fetchone()[0]
        assert got == ref(x, y, 15), (x, y)
