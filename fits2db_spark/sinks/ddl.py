"""DDL generation — StructType -> CREATE TABLE, per dialect (SURVEY.md §2.A
ddl_gen). The reference emits CREATE TABLE from the FITS header's declared
types; here the DataFrame schema plays the header's role. The map emits
database-native types (postgres ``double precision``), so it is for the
emitted DDL only: the JDBC sink lets Spark's JdbcDialect type its columns.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

_DIALECTS = ("postgres", "sqlite", "mysql", "duckdb")

# Spark type -> SQL type per dialect (SURVEY.md §1.2 table, inverted)
_TYPE_MAP: dict[type, dict[str, str]] = {
    BooleanType: dict(postgres="boolean", sqlite="integer", mysql="tinyint(1)", duckdb="BOOLEAN"),
    ShortType: dict(postgres="smallint", sqlite="integer", mysql="smallint", duckdb="SMALLINT"),
    IntegerType: dict(postgres="integer", sqlite="integer", mysql="int", duckdb="INTEGER"),
    LongType: dict(postgres="bigint", sqlite="integer", mysql="bigint", duckdb="BIGINT"),
    FloatType: dict(postgres="real", sqlite="real", mysql="float", duckdb="REAL"),
    DoubleType: dict(postgres="double precision", sqlite="real", mysql="double", duckdb="DOUBLE"),
    StringType: dict(postgres="text", sqlite="text", mysql="text", duckdb="VARCHAR"),
    BinaryType: dict(postgres="bytea", sqlite="blob", mysql="blob", duckdb="BLOB"),
    TimestampType: dict(postgres="timestamp", sqlite="text", mysql="datetime(6)", duckdb="TIMESTAMP"),
    DateType: dict(postgres="date", sqlite="text", mysql="date", duckdb="DATE"),
}


def sql_type(dt: DataType, dialect: str = "postgres") -> str:
    if isinstance(dt, ArrayType):
        inner = sql_type(dt.elementType, dialect)
        if dialect == "postgres":
            return f"{inner}[]"
        if dialect == "duckdb":
            return f"{inner}[]"
        # engines without native arrays get a JSON text column
        return "text" if dialect == "sqlite" else "json"
    for cls, m in _TYPE_MAP.items():
        if isinstance(dt, cls):
            return m[dialect]
    raise TypeError(f"no {dialect} mapping for Spark type {dt.simpleString()}")


def quote_ident(name: str, dialect: str = "postgres") -> str:
    q = "`" if dialect == "mysql" else '"'
    return f"{q}{name}{q}"


def create_table_ddl(schema: StructType, table: str, dialect: str = "postgres") -> str:
    """Emit CREATE TABLE DDL for a DataFrame schema."""
    if dialect not in _DIALECTS:
        raise ValueError(f"dialect must be one of {_DIALECTS}")
    cols = []
    for f in schema.fields:
        line = f"    {quote_ident(f.name, dialect)} {sql_type(f.dataType, dialect)}"
        if not f.nullable:
            line += " NOT NULL"
        cols.append(line)
    body = ",\n".join(cols)
    return f"CREATE TABLE {quote_ident(table, dialect)} (\n{body}\n);"


def drop_table_ddl(table: str, dialect: str = "postgres") -> str:
    return f"DROP TABLE IF EXISTS {quote_ident(table, dialect)};"


def truncate_table_ddl(table: str, dialect: str = "postgres") -> str:
    if dialect == "sqlite":  # sqlite has no TRUNCATE
        return f"DELETE FROM {quote_ident(table, dialect)};"
    return f"TRUNCATE TABLE {quote_ident(table, dialect)};"
