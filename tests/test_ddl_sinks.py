"""DDL generation + CSV/JDBC sink tests (SURVEY.md §2.A ddl_gen, sink_csv,
sink_jdbc). JDBC is exercised against Derby — the only JDBC driver bundled
with Spark in this container."""

import glob
import os

import pytest

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fits2db_spark.sinks.csv_sink import write_csv
from fits2db_spark.sinks.ddl import (
    create_table_ddl,
    drop_table_ddl,
    sql_type,
    truncate_table_ddl,
)

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("score", DoubleType(), True),
        StructField("vec", ArrayType(FloatType()), True),
        StructField("ts", TimestampType(), True),
    ]
)


def test_create_table_postgres():
    ddl = create_table_ddl(SCHEMA, "mytab", "postgres")
    assert '"id" bigint NOT NULL,' in ddl
    assert '"vec" real[]' in ddl
    assert ddl.startswith('CREATE TABLE "mytab"')


def test_create_table_dialects():
    assert "`name` text" in create_table_ddl(SCHEMA, "t", "mysql")
    assert sql_type(IntegerType(), "sqlite") == "integer"
    assert sql_type(ArrayType(FloatType()), "sqlite") == "text"
    assert "DROP TABLE IF EXISTS" in drop_table_ddl("t")
    assert truncate_table_ddl("t", "sqlite").startswith("DELETE FROM")
    assert truncate_table_ddl("t", "postgres").startswith("TRUNCATE")


def test_csv_sink_roundtrip(spark, tmp_path):
    from fits2db_spark.tables import SCHEMAS, load

    out = str(tmp_path / "nation_csv")
    df = load(spark, "/root/testdata/sf0.001", "nation")
    write_csv(df, out, null_marker=r"\N")
    back = spark.read.schema(SCHEMAS["nation"]).option("header", True).csv(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert glob.glob(os.path.join(out, "*.csv"))


def test_jdbc_sink_derby(spark, tmp_path):
    from fits2db_spark.sinks.jdbc import write_jdbc
    from fits2db_spark.tables import load

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    df = load(spark, "/root/testdata/sf0.001", "region")
    write_jdbc(df, url, "region_tab", mode="append", batchsize=100)
    back = spark.read.format("jdbc").option("url", url).option("dbtable", "region_tab").load()
    assert back.count() == df.count()
    # append again -> doubles; truncate-overwrite -> back to original count
    write_jdbc(df, url, "region_tab", mode="append")
    assert (
        spark.read.format("jdbc").option("url", url).option("dbtable", "region_tab").load().count()
        == 2 * df.count()
    )
    write_jdbc(df, url, "region_tab", mode="truncate")
    assert (
        spark.read.format("jdbc").option("url", url).option("dbtable", "region_tab").load().count()
        == df.count()
    )


def test_jdbc_create_overwrite_values(spark, tmp_path):
    # create (errorifexists), then overwrite —
    # and compare VALUES, not just counts, on the read-back
    from pyspark.sql.utils import AnalysisException

    from fits2db_spark.sinks.jdbc import write_jdbc
    from fits2db_spark.tables import load

    url = f"jdbc:derby:{tmp_path}/db2;create=true"
    df = load(spark, "/root/testdata/sf0.001", "region")
    write_jdbc(df, url, "region_c", mode="create")
    with pytest.raises(AnalysisException):
        write_jdbc(df, url, "region_c", mode="create")  # already exists
    # deterministic 2-row subset: LIMIT without ORDER BY may pick different
    # rows across executions, so filter on the key instead
    sub = df.filter("r_regionkey < 2")
    write_jdbc(sub, url, "region_c", mode="overwrite")
    back = spark.read.format("jdbc").option("url", url).option("dbtable", "region_c").load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sub.collect()))


def test_jdbc_bad_mode():
    with pytest.raises(ValueError):
        from fits2db_spark.sinks.jdbc import write_jdbc

        write_jdbc(None, "url", "t", mode="nope")
