"""VOTable sink: well-formed XML, declared FIELD schema, value fidelity
(parsed back with xml.etree — an independent XML implementation)."""

import xml.etree.ElementTree as ET

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

NS = {"vo": "http://www.ivoa.net/xml/VOTable/v1.3"}


def _parse(doc: str):
    root = ET.fromstring(doc)
    fields = [
        (f.get("name"), f.get("datatype"))
        for f in root.findall(".//vo:FIELD", NS)
    ]
    # every TD child, the empty (NULL) ones included
    rows = [
        [td.text for td in tr] for tr in root.findall(".//vo:TR", NS)
    ]
    return fields, rows


def _write(df, tmp_path, table_name="results"):
    from fits2db_spark.sinks.votable import write_votable

    out = tmp_path / "t.vot"
    write_votable(df, str(out), table_name=table_name)
    return out.read_text()


def test_votable_round_trips_values(spark, tmp_path):
    from fits2db_spark.tables import load

    df = (
        load(spark, SF_SMOKE, "nation")
        .orderBy("n_nationkey")
        .select("n_nationkey", "n_name", "n_regionkey")
    )
    fields, rows = _parse(_write(df, tmp_path, table_name="nation"))
    assert fields == [
        (f.name, {"integer": "int", "long": "long", "string": "char"}[f.dataType.typeName()])
        for f in df.schema.fields
    ]
    expect = [(r.n_nationkey, r.n_name, r.n_regionkey) for r in df.collect()]
    assert len(rows) == len(expect)
    for got, exp in zip(rows, expect):
        assert int(got[0]) == exp[0] and got[1] == exp[1] and int(got[2]) == exp[2]


def test_votable_nulls_timestamps_and_escaping(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a<b&c", None), (2, None, 3.5)],
        "id long, s string, v double",
    ).withColumn("ts", F.lit("2024-01-02 03:04:05").cast("timestamp"))
    fields, rows = _parse(_write(df, tmp_path, table_name="t"))
    assert ("ts", "char") in fields
    assert rows[0][1] == "a<b&c"  # XML-escaped on write, parsed back intact
    assert rows[0][2] is None and rows[1][1] is None  # SQL NULL -> empty TD
    assert rows[0][3].startswith("2024-01-02T03:04:05")


def test_votable_fragments_concatenate_to_valid_document(spark, tmp_path):
    """Each of 3 partitions renders its rows on an executor; they join into
    one document with every row in order, and nothing hidden is left
    beside it."""
    df = spark.range(0, 30, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s")
    fields, rows = _parse(_write(df, tmp_path, table_name="r"))
    assert [n for n, _ in fields] == ["id", "s"]
    assert rows == [[str(i), str(i)] for i in range(30)]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t.vot"]


def test_votable_failed_job_leaves_nothing_behind(spark, tmp_path):
    """A row that fails inside the render job leaves no document at the
    target and no hidden file or directory beside it; a document already
    there is kept as it was."""
    import pytest

    bad = F.when(F.col("id") == 13, F.raise_error(F.lit("bad row")))
    df = spark.range(0, 20, 1, 2).select(bad.otherwise(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="bad row"):
        _write(df, tmp_path)
    assert list(tmp_path.iterdir()) == []
    before = _write(spark.range(3), tmp_path)
    with pytest.raises(Exception, match="bad row"):
        _write(df, tmp_path)
    assert (tmp_path / "t.vot").read_text() == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t.vot"]


def test_votable_target_with_glob_characters_keeps_every_row(spark, tmp_path):
    """A target whose name and directory hold glob characters gets every
    row, the rows of partitions that are empty ones included."""
    d = tmp_path / "d[1] *"
    d.mkdir()
    out = d / "r[1].vot"
    from fits2db_spark.sinks.votable import write_votable

    write_votable(spark.range(0, 6, 1, 8), str(out))
    _, rows = _parse(out.read_text())
    assert rows == [[str(i)] for i in range(6)]
    assert [p.name for p in d.iterdir()] == ["r[1].vot"]


def test_votable_missing_directory_fails_before_any_job(spark, tmp_path):
    import pytest

    from fits2db_spark.sinks.votable import write_votable

    with pytest.raises(FileNotFoundError, match="no directory"):
        write_votable(spark.range(3), str(tmp_path / "missing" / "t.vot"))
    assert list(tmp_path.iterdir()) == []


def test_votable_rejects_unmapped_types(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([([1, 2],)], "a array<int>")
    with pytest.raises(ValueError, match="no VOTable mapping"):
        _write(df, tmp_path)
    assert list(tmp_path.iterdir()) == []


def test_votable_quotes_attribute_values(spark, tmp_path):
    """A '"' in a column or table name must not break the attribute quoting
    (quoteattr switches to single quotes / escapes as needed)."""
    df = spark.createDataFrame([(1,)], "a int").withColumnRenamed("a", 'we"ird')
    root = ET.fromstring(_write(df, tmp_path, table_name='t"name'))  # raises if malformed
    ns = "{http://www.ivoa.net/xml/VOTable/v1.3}"
    table = root.find(f"{ns}RESOURCE/{ns}TABLE")
    assert table.get("name") == 't"name'
    assert table.find(f"{ns}FIELD").get("name") == 'we"ird'
