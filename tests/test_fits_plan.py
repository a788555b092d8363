"""The FITS read plan: one header-only plan on the driver, the selected
HDU's header picking the decoder, columns bound by name, every input
checked before any Spark job or sink write, and one EXTNAME rule for every
HDU kind."""

import numpy as np
import pytest
from pyspark.sql.types import IntegerType, StructField, StructType

from fits2db_spark.cli import build_parser, load_frame, run
from fits2db_spark.sources.fits import (
    FitsFormatError,
    decode_hdu,
    parse_bintable_header,
    plan_fits,
    read_fits,
    write_fits_asciitable,
    write_fits_bintable,
    write_fits_image,
)


def _tile(path, columns):
    path.write_bytes(write_fits_bintable(columns))
    return str(path)


def _good(path, ids):
    return _tile(
        path,
        [
            ("id", "K", ids),
            ("ra", "D", [10.0 * i for i in ids]),
            ("dec", "D", [1.0 * i for i in ids]),
        ],
    )


def _sparse_big(path, n_rows=100_000_000):
    """A BINTABLE of ``_good``'s columns whose header declares ``n_rows``
    24-byte rows (2.4 GB by default), written sparse: only the header and
    the first row, (1, 10.0, 1.0), are on disk."""
    blob = write_fits_bintable([("id", "K", [1]), ("ra", "D", [10.0]), ("dec", "D", [1.0])])
    _, _, data_off = parse_bintable_header(blob, 1)
    at = blob.index(b"NAXIS2  = ")
    card = f"{'NAXIS2':<8}= {n_rows:>20}".ljust(80).encode()
    with open(path, "wb") as f:
        f.write(blob[:at] + card + blob[at + 80 :])
        f.truncate(data_off + -(-24 * n_rows // 2880) * 2880)
    return str(path)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` with its Spark jobs tagged ``group``; return the job ids."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_planning_starts_no_spark_job(spark, tmp_path):
    a = _good(tmp_path / "a.fits", [1, 2])
    b = _good(tmp_path / "b.fits", [3])
    args = build_parser().parse_args([a, b, "--table", "t"])
    frames = {}

    def plan():
        frames["cli"] = load_frame(spark, args)
        frames["glob"] = read_fits(spark, str(tmp_path / "*.fits"))

    assert _jobs_in_group(spark, "fits-plan", plan) == []
    # control: the same group does record the jobs an action starts
    assert _jobs_in_group(spark, "fits-plan-control", frames["glob"].count)
    assert frames["cli"].count() == 3


def test_datasource_schema_reads_headers_only(tmp_path):
    from fits2db_spark.sources.fits_datasource import FitsDataSource

    blob = write_fits_bintable(
        [("id", "K", list(range(2000))), ("flux", "D", [0.5] * 2000)]
    )
    cut = tmp_path / "cut.fits"
    cut.write_bytes(blob[: 2 * 2880 + 100])  # primary + header, data cut off
    schema = FitsDataSource({"path": str(cut)}).schema()
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("id", "bigint"),
        ("flux", "double"),
    ]


def test_every_reader_matches_extname_case_insensitively(spark, tmp_path):
    img = np.arange(6, dtype="i2").reshape(2, 3)
    (tmp_path / "img.fits").write_bytes(write_fits_image(img, extname="SCI"))
    cube = np.arange(8, dtype="i2").reshape(2, 2, 2)
    (tmp_path / "cube.fits").write_bytes(write_fits_image(cube, extname="CUBE"))

    assert list(decode_hdu(str(tmp_path / "img.fits"), " sci ")[1][2]) == list(range(6))
    px = read_fits(spark, str(tmp_path / "img.fits"), hdu="sci")
    assert px.count() == 6
    vox = read_fits(spark, str(tmp_path / "cube.fits"), hdu="cube")
    assert sorted(r.val for r in vox.collect()) == [float(v) for v in range(8)]


def test_mixed_hdu_kinds_fail_in_the_plan(spark, tmp_path):
    _good(tmp_path / "a.fits", [1, 2])
    (tmp_path / "b.fits").write_bytes(write_fits_asciitable([("id", "I4", [3])]))
    out = tmp_path / "csv"

    def load():
        with pytest.raises(
            FitsFormatError, match=r"b\.fits HDU 1 is ASCII TABLE, but \S*a\.fits HDU 1 is BINTABLE"
        ):
            run([str(tmp_path / "*.fits"), "--table", "t", "--csv-out", str(out)], spark=spark)

    assert _jobs_in_group(spark, "fits-mixed-kinds", load) == []
    assert not out.exists()


def test_datasource_reads_bintables_only(spark, tmp_path):
    from fits2db_spark.sources.fits_datasource import register

    path = str(tmp_path / "img.fits")
    (tmp_path / "img.fits").write_bytes(write_fits_image(np.ones((2, 2), dtype="i2")))
    register(spark)
    with pytest.raises(Exception, match="HDU 1 is not a BINTABLE"):
        spark.read.format("fits").load(path)
    with pytest.raises(Exception, match="reads BINTABLE HDUs"):
        spark.read.format("fits").schema("x int, y int, val double").load(path).collect()
    assert read_fits(spark, path).count() == 4


def test_mapinarrow_and_datasource_bind_columns_by_name(spark, tmp_path):
    from fits2db_spark.sources.fits_datasource import register

    _good(tmp_path / "a.fits", [1])
    _tile(tmp_path / "b.fits", [("dec", "D", [3.0]), ("id", "K", [3]), ("ra", "D", [30.0])])
    register(spark)
    for df in (
        read_fits(spark, str(tmp_path)),
        spark.read.format("fits").load(str(tmp_path)),
    ):
        assert df.columns == ["id", "ra", "dec"]
        assert sorted(tuple(r) for r in df.collect()) == [(1, 10.0, 1.0), (3, 30.0, 3.0)]


def test_declared_schema_may_widen_and_reorder(spark, tmp_path):
    from fits2db_spark.sources.fits_datasource import register

    _tile(tmp_path / "w.fits", [("ID", "J", [1, 2]), ("V", "E", [0.5, 1.5])])
    register(spark)
    df = spark.read.format("fits").schema("V double, ID long").load(str(tmp_path / "w.fits"))
    assert sorted(tuple(r) for r in df.collect()) == [(0.5, 1), (1.5, 2)]
    # a caller-declared schema may widen, never narrow
    narrow = StructType([StructField("ID", IntegerType()), StructField("V", IntegerType())])
    with pytest.raises(FitsFormatError, match="'V' is float, declared int"):
        plan_fits(str(tmp_path / "w.fits"), schema=narrow)


def test_image_blank_in_a_later_file_makes_val_nullable(spark, tmp_path):
    img = np.arange(4, dtype="i2").reshape(2, 2)
    (tmp_path / "a.fits").write_bytes(write_fits_image(img))
    (tmp_path / "b.fits").write_bytes(write_fits_image(img, blank=3))
    df = read_fits(spark, str(tmp_path))
    assert df.schema["val"].nullable
    assert sorted(r.val for r in df.collect() if r.val is not None) == [0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0]


# --- fault injection through `cli.run --mode append` into embedded Derby ---


@pytest.fixture()
def derby(tmp_path, spark):
    """A Derby table ``t`` created from one good tile (2 rows)."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"

    def load(inputs, mode="append"):
        return run(
            [*inputs, "--table", "t", "--jdbc-url", url, "--mode", mode,
             "--num-partitions", "1"],
            spark=spark,
        )

    def rows():
        back = spark.read.format("jdbc").option("url", url).option("dbtable", "t").load()
        return sorted(tuple(r) for r in back.collect())

    load([_good(tmp_path / "seed.fits", [1, 2])], mode="create")
    return load, rows


def test_append_binds_reordered_columns_by_name(derby, tmp_path):
    load, rows = derby
    good = _good(tmp_path / "g.fits", [3])
    swapped = _tile(tmp_path / "s.fits", [("dec", "D", [4.0]), ("ra", "D", [40.0]), ("id", "K", [4])])
    assert load([good, swapped]) == 0
    assert rows() == [(1, 10.0, 1.0), (2, 20.0, 2.0), (3, 30.0, 3.0), (4, 40.0, 4.0)]


@pytest.mark.parametrize(
    "bad_columns, message",
    [
        ([("id", "K", [9]), ("ra", "D", [90.0])], "column 'dec' is missing"),
        (
            [("id", "K", [9]), ("ra", "D", [90.0]), ("dec", "D", [9.0]), ("mag", "E", [1.0])],
            "column 'mag' is not in the declared schema",
        ),
        ([("id", "K", [9]), ("ra", "D", [90.0]), ("dec", "E", [9.0])], "column 'dec' is float, declared double"),
    ],
    ids=["missing", "extra", "retyped"],
)
def test_append_rejects_mismatched_tile_before_writing(derby, tmp_path, bad_columns, message):
    load, rows = derby
    before = rows()
    good = _good(tmp_path / "g.fits", [3])
    bad = _tile(tmp_path / "bad.fits", bad_columns)
    with pytest.raises(FitsFormatError, match=f"bad.fits HDU 1: {message}"):
        load([good, bad])
    assert rows() == before


def test_append_rejects_truncated_tile_in_a_glob(derby, tmp_path):
    load, rows = derby
    before = rows()
    tiles = tmp_path / "tiles"
    tiles.mkdir()
    for name, ids in (("t0", [3]), ("t1", list(range(10, 400))), ("t2", [5])):
        _good(tiles / f"{name}.fits", ids)
    blob = (tiles / "t1.fits").read_bytes()
    (tiles / "t1.fits").write_bytes(blob[: len(blob) - 2880])
    with pytest.raises(FitsFormatError, match="t1.fits HDU 1: truncated"):
        load([str(tiles / "*.fits")])
    assert rows() == before


def test_append_rejects_a_file_over_the_binaryfile_limit(derby, spark, tmp_path):
    """Spark's binaryFile source cannot read a file over 2 GiB; the plan
    rejects one, naming it, before any Spark job or sink write."""
    load, rows = derby
    before = rows()
    tiles = tmp_path / "tiles"
    tiles.mkdir()
    _good(tiles / "a.fits", [3])
    _sparse_big(tiles / "b.fits")
    _good(tiles / "c.fits", [5])

    def plan():
        with pytest.raises(
            FitsFormatError, match=r'b\.fits: \d+ bytes is over the binaryFile read limit.*format\("fits"\)'
        ):
            load([str(tiles / "*.fits")])

    assert _jobs_in_group(spark, "fits-size-limit", plan) == []
    assert rows() == before


def test_embedded_append_is_all_or_nothing(spark, tmp_path):
    """An embedded Derby append loads through one connection, so one
    transaction: when its last tile repeats a primary key, the load fails
    and the table keeps exactly the rows it had, with no --num-partitions
    asking for it."""
    url = f"jdbc:derby:{tmp_path}/pk_db;create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().execute(
            'CREATE TABLE t ("id" BIGINT PRIMARY KEY, "ra" DOUBLE, "dec" DOUBLE)'
        )
    finally:
        conn.close()

    def load(paths):
        return run([*paths, "--table", "t", "--jdbc-url", url, "--mode", "append"], spark=spark)

    def count_and_id_sum():
        got = (
            spark.read.format("jdbc").option("url", url)
            .option("query", 'SELECT COUNT(*) AS n, SUM("id") AS s FROM t').load().collect()[0]
        )
        return int(got[0]), int(got[1])

    assert load([_good(tmp_path / "seed.fits", list(range(1, 51)))]) == 0
    before = count_and_id_sum()
    assert before == (50, sum(range(1, 51)))
    tiles = tmp_path / "tiles"
    tiles.mkdir()
    for i, name in enumerate("abc"):
        _good(tiles / f"{name}.fits", list(range(100 * (i + 1), 100 * (i + 1) + 100)))
    _good(tiles / "z.fits", [500, 501, 25])  # 25 is already in the table
    with pytest.raises(ExceptionGroup, match="failed: jdbc"):
        load([str(tiles / "*.fits")])
    assert count_and_id_sum() == before


def _count_and_id_sum(spark, url):
    got = (
        spark.read.format("jdbc").option("url", url)
        .option("query", 'SELECT COUNT(*) AS n, SUM("id") AS s FROM t').load().collect()[0]
    )
    return int(got[0]), int(got[1])


def test_derby_only_load_coalesces_without_a_shuffle(spark, tmp_path):
    """With JDBC as the only row sink, --num-partitions reaches the JDBC
    writer as a coalesce: the load runs no shuffle, so every Spark job it
    starts is a single stage, and Derby gets every row."""
    tiles = tmp_path / "tiles"
    tiles.mkdir()
    ids = []
    for i in range(6):
        tile_ids = list(range(100 * i, 100 * i + 50))
        _good(tiles / f"t{i}.fits", tile_ids)
        ids += tile_ids
    url = f"jdbc:derby:{tmp_path}/np_db;create=true"
    jobs = _jobs_in_group(spark, "derby-only-num-partitions", lambda: run(
        [str(tiles / "*.fits"), "--table", "t", "--jdbc-url", url, "--num-partitions", "4"],
        spark=spark,
    ))
    tracker = spark.sparkContext.statusTracker()
    stages = [len(tracker.getJobInfo(j).stageIds) for j in jobs]
    assert stages and stages == [1] * len(stages)
    assert _count_and_id_sum(spark, url) == (len(ids), sum(ids))


@pytest.fixture()
def log_buffer_property(spark):
    """The JVM's ``derby.storage.logBufferSize`` cleared for the test and
    restored to its prior value (or cleared) afterwards."""
    from fits2db_spark.sinks.jdbc import DERBY_LOG_BUFFER

    system = spark._jvm.java.lang.System
    prior = system.getProperty(DERBY_LOG_BUFFER)
    system.clearProperty(DERBY_LOG_BUFFER)
    try:
        yield system
    finally:
        if prior is None:
            system.clearProperty(DERBY_LOG_BUFFER)
        else:
            system.setProperty(DERBY_LOG_BUFFER, prior)


def test_embedded_append_sizes_the_log_buffer_and_survives_a_reboot(
    spark, tmp_path, log_buffer_property
):
    """An embedded load sets Derby's log buffer to 4 MiB before the
    database boots; commit still forces the log, so after a clean shutdown
    (SQLState 08006) and a reboot the table holds every appended row."""
    from py4j.protocol import Py4JJavaError

    from fits2db_spark.sinks.jdbc import DERBY_LOG_BUFFER

    db = f"{tmp_path}/log_db"

    def load(path, mode):
        return run([path, "--table", "t", "--jdbc-url", f"jdbc:derby:{db};create=true",
                    "--mode", mode], spark=spark)

    assert load(_good(tmp_path / "a.fits", list(range(1, 3001))), "create") == 0
    assert load(_good(tmp_path / "b.fits", list(range(3001, 6001))), "append") == 0
    assert log_buffer_property.getProperty(DERBY_LOG_BUFFER) == "4194304"
    with pytest.raises(Py4JJavaError) as shutdown:
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    assert shutdown.value.java_exception.getSQLState() == "08006"
    assert _count_and_id_sum(spark, f"jdbc:derby:{db}") == (6000, sum(range(1, 6001)))


def test_embedded_append_keeps_a_log_buffer_size_set_beforehand(
    spark, tmp_path, log_buffer_property
):
    from fits2db_spark.sinks.jdbc import DERBY_LOG_BUFFER

    log_buffer_property.setProperty(DERBY_LOG_BUFFER, "65536")
    url = f"jdbc:derby:{tmp_path}/kept_db;create=true"
    assert run([_good(tmp_path / "a.fits", [1, 2, 3]), "--table", "t", "--jdbc-url", url],
               spark=spark) == 0
    assert log_buffer_property.getProperty(DERBY_LOG_BUFFER) == "65536"
    assert _count_and_id_sum(spark, url) == (3, 6)


def test_datasource_reads_a_file_over_the_binaryfile_limit(spark, tmp_path):
    """The alternative the size-limit error names: format("fits") splits
    the same 2.4 GB table into row ranges of spark.sql.files.maxPartitionBytes
    (128 MiB by default)."""
    from fits2db_spark.sources.fits_datasource import register

    register(spark)
    df = spark.read.format("fits").load(_sparse_big(tmp_path / "big.fits"))
    assert df.rdd.getNumPartitions() == 18
    assert tuple(df.limit(1).collect()[0]) == (1, 10.0, 1.0)


def test_datasource_yields_batches_of_max_records_per_batch(spark, tmp_path):
    """A partition decodes its row range in slices of
    spark.sql.execution.arrow.maxRecordsPerBatch rows (whole tiles for a
    tile-compressed table) and yields them as separate batches holding the
    same rows as one whole-range decode."""
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed
    from fits2db_spark.sources.fits_datasource import FitsDataSource, register

    ids = list(range(2500))
    columns = [("id", "K", ids), ("ra", "D", [10.0 * i for i in ids]), ("dec", "D", [1.0 * i for i in ids])]
    plain = _tile(tmp_path / "plain.fits", columns)
    packed = tmp_path / "packed.fits"
    packed.write_bytes(write_fits_bintable_compressed(columns, tile_len=300))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        register(spark)
        for path, sizes in ((plain, [1000, 1000, 500]), (str(packed), [900, 900, 700])):
            source = FitsDataSource({"path": path})
            reader = source.reader(source.schema())
            [part] = reader.partitions()
            batches = list(reader.read(part))
            assert [b.num_rows for b in batches] == sizes
            assert [v for b in batches for v in b.column("id").to_pylist()] == ids
            df = spark.read.format("fits").load(path)
            assert sorted(tuple(r) for r in df.collect()) == [(i, 10.0 * i, 1.0 * i) for i in ids]
    finally:
        spark.conf.set(key, old)
        register(spark)
