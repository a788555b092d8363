"""CLI end-to-end tests (SURVEY.md §3.1): the reference is a command-line
tool — argv -> DDL emission / CSV / JDBC load. Runs the real `run()` with a
shared session (spawning a JVM per test would dominate)."""

import contextlib

import pytest

from fits2db_spark.cli import run
from fits2db_spark.sources.fits import write_fits_bintable


@pytest.fixture()
def fits_file(tmp_path):
    blob = write_fits_bintable(
        [
            ("id", "K", [1, 2, 3]),
            ("flux", "D", [0.5, 1.5, 2.5]),
            ("name", "A8", ["aa", "bb", "cc"]),
        ]
    )
    p = tmp_path / "cat.fits"
    p.write_bytes(blob)
    return str(p)


def test_cli_ddl_only(fits_file, tmp_path, spark, capsys):
    rc = run([fits_file, "--table", "stars", "--ddl-only", "--drop"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert 'DROP TABLE IF EXISTS "stars";' in out
    assert 'CREATE TABLE "stars"' in out
    assert '"id" bigint' in out and '"flux" double precision' in out and '"name" text' in out


def test_cli_ddl_dialects(fits_file, spark, capsys):
    run([fits_file, "--table", "t", "--ddl-only", "--dialect", "mysql"], spark=spark)
    out = capsys.readouterr().out
    assert "CREATE TABLE `t`" in out and "`id` bigint" in out


def test_cli_csv_out(fits_file, tmp_path, spark):
    out_dir = str(tmp_path / "csv")
    rc = run(
        [fits_file, "--table", "t", "--csv-out", out_dir, "--single-file"], spark=spark
    )
    assert rc == 0
    import glob

    parts = glob.glob(f"{out_dir}/part-*.csv")
    assert len(parts) == 1
    lines = open(parts[0]).read().strip().splitlines()
    assert lines[0] == "id,flux,name"
    assert sorted(lines[1:]) == ["1,0.5,aa", "2,1.5,bb", "3,2.5,cc"]


def test_cli_jdbc_load_derby(fits_file, tmp_path, spark):
    """The full reference pipeline: FITS file -> CREATE + load -> SQL table,
    verified by reading the Derby table back through JDBC."""
    url = f"jdbc:derby:{tmp_path}/cli_db;create=true"
    rc = run(
        [
            fits_file,
            "--table", "stars",
            "--jdbc-url", url,
            "--mode", "create",
            "--num-partitions", "1",
        ],
        spark=spark,
    )
    assert rc == 0
    back = (
        spark.read.format("jdbc").option("url", url).option("dbtable", "stars").load()
    )
    rows = sorted((r.id, r.flux, r.name) for r in back.collect())
    assert rows == [(1, 0.5, "aa"), (2, 1.5, "bb"), (3, 2.5, "cc")]


def test_cli_multi_file_union(tmp_path, spark, capsys):
    for i in range(2):
        blob = write_fits_bintable([("id", "J", [i * 2, i * 2 + 1])])
        (tmp_path / f"f{i}.fits").write_bytes(blob)
    rc = run([str(tmp_path / "f0.fits"), str(tmp_path / "f1.fits"), "--table", "t"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "table t: 4 rows" in out


def test_cli_hdu_by_name(tmp_path, spark, capsys):
    from fits2db_spark.sources.fits import write_fits_multi

    blob = write_fits_multi(
        [
            {"columns": [("a", "J", [1])], "extname": "RAW"},
            {"columns": [("b", "J", [5, 6, 7])], "extname": "CAL"},
        ]
    )
    (tmp_path / "m.fits").write_bytes(blob)
    rc = run([str(tmp_path / "m.fits"), "--table", "t", "--hdu", "CAL"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "table t: 3 rows" in out and "b: int" in out


def test_cli_ascii_table_csv(tmp_path, spark):
    """An ASCII TABLE extension loads end-to-end to CSV with no kind flag:
    its header picks the decoder."""
    from fits2db_spark.sources.fits import write_fits_asciitable

    blob = write_fits_asciitable(
        [("name", "A5", ["aa", "bb"]), ("val", "I4", [7, 9])], extname="CAT"
    )
    src = tmp_path / "cat.fits"
    src.write_bytes(blob)
    out = tmp_path / "csv"
    rc = run(
        [str(src), "--table", "cat", "--csv-out", str(out), "--single-file"],
        spark=spark,
    )
    assert rc == 0
    import glob

    [f] = glob.glob(str(out / "part-*.csv"))
    body = open(f).read().strip().splitlines()
    assert body[0].split(",")[:2] == ["name", "val"]
    assert sorted(body[1:]) == ["aa,7", "bb,9"]


def test_cli_verify_checksum_good_and_tampered(tmp_path, spark, capsys):
    from fits2db_spark.sources.fits import add_checksums

    blob = add_checksums(
        write_fits_bintable([("id", "J", [1, 2, 3]), ("v", "D", [0.5, 1.5, 2.5])])
    )
    good = tmp_path / "good.fits"
    good.write_bytes(blob)
    rc = run([str(good), "--table", "t", "--verify-checksum"], spark=spark)
    assert rc == 0
    assert "3 rows" in capsys.readouterr().out

    bad = bytearray(blob)
    bad[-50] ^= 0x01
    badf = tmp_path / "bad.fits"
    badf.write_bytes(bytes(bad))
    with pytest.raises(Exception, match="checksum mismatch"):
        run([str(badf), "--table", "t", "--verify-checksum"], spark=spark)


def test_cli_image_pixel_table_csv(tmp_path, spark):
    import numpy as np

    from fits2db_spark.sources.fits import write_fits_image

    img = (np.arange(12, dtype="i2")).reshape(3, 4)
    p = tmp_path / "img.fits"
    p.write_bytes(write_fits_image(img, bscale=2.0, extname="SCI"))
    out = tmp_path / "csv"
    rc = run(
        [str(p), "--table", "pix", "--hdu", "SCI",
         "--csv-out", str(out), "--single-file"],
        spark=spark,
    )
    assert rc == 0
    body = next(out.glob("*.csv")).read_text().strip().splitlines()
    assert body[0] == "x,y,val"
    assert len(body) == 13  # header + 12 pixels
    assert "3,2,22.0" in body  # img[2,3] = 11 -> 2*11


def test_cli_cube_voxel_table_csv(tmp_path, spark):
    """A 3-D IMAGE loads with no kind flag: one (x, y, z, val) row per
    voxel, BSCALE/BZERO applied."""
    import numpy as np

    from fits2db_spark.sources.fits import write_fits_image

    cube = np.arange(24, dtype="i2").reshape(2, 3, 4)  # [z, y, x]
    p = tmp_path / "cube.fits"
    p.write_bytes(write_fits_image(cube, bscale=0.5, bzero=1.0, extname="CUBE"))
    out = tmp_path / "csv"
    rc = run(
        [str(p), "--table", "vox", "--hdu", "cube", "--csv-out", str(out), "--single-file"],
        spark=spark,
    )
    assert rc == 0
    body = next(out.glob("*.csv")).read_text().strip().splitlines()
    assert body[0] == "x,y,z,val"
    assert sorted(body[1:]) == sorted(
        f"{x},{y},{z},{1.0 + 0.5 * cube[z, y, x]}"
        for z in range(2) for y in range(3) for x in range(4)
    )


def test_cli_verify_checksum_composes_with_image(tmp_path, spark):
    import numpy as np

    from fits2db_spark.sources.fits import add_checksums, write_fits_image

    blob = add_checksums(
        write_fits_image(np.ones((4, 4), dtype="i2"), extname="SCI")
    )
    bad = bytearray(blob)
    bad[-30] ^= 0x01
    p = tmp_path / "bad_img.fits"
    p.write_bytes(bytes(bad))
    with pytest.raises(Exception, match="checksum mismatch"):
        run(
            [str(p), "--table", "pix", "--hdu", "SCI", "--verify-checksum"],
            spark=spark,
        )


def test_cli_votable_out(fits_file, tmp_path, spark):
    import xml.etree.ElementTree as ET

    out = tmp_path / "cat.vot"
    rc = run([fits_file, "--table", "stars", "--votable-out", str(out)], spark=spark)
    assert rc == 0
    root = ET.parse(out).getroot()
    ns = {"vo": "http://www.ivoa.net/xml/VOTable/v1.3"}
    assert root.find(".//vo:TABLE", ns).get("name") == "stars"
    assert len(root.findall(".//vo:TR", ns)) == 3


def test_cli_votable_out_writes_every_row_of_a_large_input(tmp_path, spark):
    """No row bound: an input over 10,000 rows (the old single-document
    cap) writes one document holding every row, in input order."""
    import xml.etree.ElementTree as ET

    n = 12_345
    blob = write_fits_bintable([("id", "K", list(range(n)))])
    (tmp_path / "big.fits").write_bytes(blob)
    out = tmp_path / "big.vot"
    rc = run([str(tmp_path / "big.fits"), "--table", "big", "--votable-out", str(out)],
             spark=spark)
    assert rc == 0
    ns = {"vo": "http://www.ivoa.net/xml/VOTable/v1.3"}
    trs = ET.parse(out).getroot().findall(".//vo:TR", ns)
    assert [int(tr[0].text) for tr in trs] == list(range(n))


def test_cli_rejects_nonpositive_jdbc_numbers_before_any_sink(tmp_path, spark, capsys):
    """--batchsize 0 used to write the CSV sink before Spark's JDBC options
    raised; --num-partitions 0 was silently ignored. Both must fail at
    argument parsing, before any sink writes."""
    blob = write_fits_bintable([("id", "K", [1, 2, 3])])
    src = tmp_path / "cat.fits"
    src.write_bytes(blob)
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    for flag in ("--batchsize", "--num-partitions"):
        out_dir = tmp_path / f"csv{flag}"
        with pytest.raises(SystemExit) as exc:
            run(
                [str(src), "--table", "t", "--csv-out", str(out_dir),
                 "--jdbc-url", url, flag, "0"],
                spark=spark,
            )
        assert exc.value.code == 2
        assert not out_dir.exists(), f"{flag} 0 wrote the CSV sink"
    assert "must be >= 1" in capsys.readouterr().err


def test_scaleup_bench_surfaces_subprocess_failures(monkeypatch):
    """r8 ADVICE: run_benches must raise with the subprocess stderr instead
    of dying on an IndexError when a bench crashes or prints no JSON."""
    import subprocess
    import types

    import pytest

    import tools.scaleup_bench as sb

    def fake_run_rc1(cmd, **kw):
        return types.SimpleNamespace(returncode=1, stdout="", stderr="boom-trace")

    monkeypatch.setattr(subprocess, "run", fake_run_rc1)
    with pytest.raises(RuntimeError, match="boom-trace"):
        sb.run_benches()

    def fake_run_nojson(cmd, **kw):
        return types.SimpleNamespace(returncode=0, stdout="no json here\n", stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run_nojson)
    with pytest.raises(RuntimeError, match="no JSON line"):
        sb.run_benches()


def test_cli_parquet_out_with_partitioning(fits_file, tmp_path, spark):
    """r8: the lakehouse landing sink — parquet output with hive-layout
    directory partitioning, read back losslessly with pruning-capable
    col=value subdirs."""
    out = str(tmp_path / "pq")
    rc = run(
        [fits_file, "--table", "t", "--parquet-out", out, "--partition-by", "name"]
    )
    assert rc == 0
    import os

    subdirs = {d for d in os.listdir(out) if d.startswith("name=")}
    assert subdirs == {"name=aa", "name=bb", "name=cc"}
    back = spark.read.parquet(out)
    rows = {(r["id"], r["flux"], r["name"]) for r in back.collect()}
    assert rows == {(1, 0.5, "aa"), (2, 1.5, "bb"), (3, 2.5, "cc")}


def _derby_rows(spark, url, table):
    back = spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
    return sorted((r.id, r.flux, r.name) for r in back.collect())


def _csv_rows(out_dir):
    import pathlib

    rows = []
    for part in pathlib.Path(out_dir).glob("part-*.csv"):
        lines = part.read_text().strip().splitlines()
        assert lines[0] == "id,flux,name"
        rows += lines[1:]
    return sorted(rows)


def _cached_rdd_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


ROWS = [(1, 0.5, "aa"), (2, 1.5, "bb"), (3, 2.5, "cc")]
CSV_ROWS = ["1,0.5,aa", "2,1.5,bb", "3,2.5,cc"]


def test_cli_num_partitions_shapes_every_sink(fits_file, tmp_path, spark):
    """--num-partitions repartitions the one frame every sink reads: the
    CSV and parquet sinks each write two parts and Derby gets every row."""
    import glob

    url = f"jdbc:derby:{tmp_path}/np_db;create=true"
    csv_dir, pq_dir = str(tmp_path / "csv"), str(tmp_path / "pq")
    rc = run(
        [fits_file, "--table", "stars", "--num-partitions", "2",
         "--csv-out", csv_dir, "--parquet-out", pq_dir, "--jdbc-url", url],
        spark=spark,
    )
    assert rc == 0
    assert len(glob.glob(f"{csv_dir}/part-*.csv")) == 2
    assert _csv_rows(csv_dir) == CSV_ROWS
    assert len(glob.glob(f"{pq_dir}/part-*.parquet")) == 2
    back = spark.read.parquet(pq_dir)
    assert sorted((r.id, r.flux, r.name) for r in back.collect()) == ROWS
    assert _derby_rows(spark, url, "stars") == ROWS


@contextlib.contextmanager
def _job_group(sc, group):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_cli_sink_jobs_keep_the_callers_job_group(fits_file, tmp_path, spark):
    """The sinks run in threads; each sink's jobs must still belong to the
    job group the caller set, or a caller could neither cancel nor count
    them."""
    sc = spark.sparkContext
    group = "cli-sinks-job-group"
    with _job_group(sc, group):
        rc = run(
            [fits_file, "--table", "stars", "--csv-out", str(tmp_path / "csv"),
             "--jdbc-url", f"jdbc:derby:{tmp_path}/jg_db;create=true"],
            spark=spark,
        )
    assert rc == 0
    tracker = sc.statusTracker()
    stage_names = {
        tracker.getStageInfo(s).name
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    }
    assert any(n.startswith("csv at") for n in stage_names), stage_names
    assert any(n.startswith("save at") for n in stage_names), stage_names


def test_cli_failed_sink_does_not_stop_the_others(fits_file, tmp_path, spark):
    """A VOTable sink whose target lies under a regular file fails; the
    CSV and Derby sinks still load every row, and the error names the
    failed and the completed sinks."""
    url = f"jdbc:derby:{tmp_path}/fail_db;create=true"
    csv_dir = str(tmp_path / "csv")
    (tmp_path / "plain").write_text("")
    target = tmp_path / "plain" / "t.vot"
    with pytest.raises(ExceptionGroup, match="failed: votable; completed: jdbc, csv") as exc:
        run(
            [fits_file, "--table", "stars", "--votable-out", str(target),
             "--csv-out", csv_dir, "--jdbc-url", url],
            spark=spark,
        )
    [err] = exc.value.exceptions
    assert "no directory" in str(err)
    assert not target.exists()
    assert _csv_rows(csv_dir) == CSV_ROWS
    assert _derby_rows(spark, url, "stars") == ROWS


def test_cli_releases_the_shared_frame(fits_file, tmp_path, spark):
    """The frame the sinks share is persisted for the load only: after a
    load that succeeds and after one whose sink fails, no cached RDD is
    left behind (a leak would grow with every append)."""
    url = f"jdbc:derby:{tmp_path}/rel_db;create=true"
    before = _cached_rdd_ids(spark)
    argv = [fits_file, "--table", "stars", "--csv-out", str(tmp_path / "csv"),
            "--jdbc-url", url]
    assert run([*argv, "--mode", "create"], spark=spark) == 0
    assert _cached_rdd_ids(spark) == before
    (tmp_path / "plain").write_text("")
    with pytest.raises(ExceptionGroup, match="failed: votable"):
        run([*argv, "--mode", "append", "--votable-out", str(tmp_path / "plain" / "t.vot")],
            spark=spark)
    assert _cached_rdd_ids(spark) == before
    assert len(_derby_rows(spark, url, "stars")) == 6


def _first_job_with_stage(tracker, job_ids, prefix):
    return min(
        j for j in job_ids
        if any(
            (info := tracker.getStageInfo(s)) is not None and info.name.startswith(prefix)
            for s in tracker.getJobInfo(j).stageIds
        )
    )


def test_cli_jdbc_job_is_submitted_before_the_file_sinks(tmp_path, spark):
    """A running task is never preempted, so the sink whose job is
    submitted first holds the task slots it gets. The JDBC job (one task
    that sets the load's length) must be submitted before the CSV job in
    every load, also under a caller's job group."""
    for i in range(4):
        blob = write_fits_bintable([("id", "K", list(range(i * 50, i * 50 + 50)))])
        (tmp_path / f"tile{i}.fits").write_bytes(blob)
    url = f"jdbc:derby:{tmp_path}/order_db;create=true"
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for load in range(3):
        group = f"cli-sink-order-{load}"
        with _job_group(sc, group):
            rc = run(
                [str(tmp_path / "tile*.fits"), "--table", "tiles",
                 "--csv-out", str(tmp_path / "csv"), "--jdbc-url", url, "--mode", "append"],
                spark=spark,
            )
        assert rc == 0
        jobs = tracker.getJobIdsForGroup(group)
        save = _first_job_with_stage(tracker, jobs, "save at")
        csv = _first_job_with_stage(tracker, jobs, "csv at")
        assert save < csv, (load, save, csv)
    back = spark.read.format("jdbc").option("url", url).option("dbtable", "tiles").load()
    assert back.count() == 3 * 200


def test_cli_jdbc_failing_before_its_job_does_not_hold_back_the_file_sinks(
    fits_file, tmp_path, spark
):
    """The file sinks wait for the JDBC sink's job only while its thread
    lives: a JDBC sink that fails before submitting any job (--mode create
    on an existing table) lets the CSV sink load every row. The job tag the
    wait uses stays in the JDBC sink's thread, not the caller's."""
    url = f"jdbc:derby:{tmp_path}/exists_db;create=true"
    assert run([fits_file, "--table", "stars", "--jdbc-url", url, "--mode", "create"],
               spark=spark) == 0
    csv_dir = str(tmp_path / "csv")
    sc = spark.sparkContext
    tags = sc.getJobTags()
    with pytest.raises(ExceptionGroup, match="failed: jdbc; completed: csv"):
        run([fits_file, "--table", "stars", "--csv-out", csv_dir,
             "--jdbc-url", url, "--mode", "create"], spark=spark)
    assert sc.getJobTags() == tags
    assert _csv_rows(csv_dir) == CSV_ROWS
    assert _derby_rows(spark, url, "stars") == ROWS
