"""VOTable emission — the IVOA XML interchange format astronomy services
return (cone searches, TAP queries). A fits2db-class tool's users consume
VOTable daily; this sink renders any DataFrame as a VOTable 1.4 document:
FIELD declarations derived from the Spark schema (never inferred from row
data — same declared-schema philosophy as the FITS ingest), TABLEDATA rows,
and standard null handling (empty TD for SQL NULL).

Spark-first shape, one writer (:func:`write_votable`): the body rows
render on executors (``df.rdd.mapPartitions``), one text file of ``<TR>``
lines per partition; the driver renders only the header and footer and
streams the parts between them into one document, so no row is collected
and any row count fits.

Type map (Spark -> VOTable datatype):
  boolean->boolean  short->short  int->int  long->long
  float->float  double->double  string->char(*)  binary->unsignedByte(*)
  timestamp/date->char(*) (ISO-8601 text, per the VOTable convention)
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from xml.sax.saxutils import escape, quoteattr

from pyspark.sql import DataFrame

_VOTABLE_TYPES = {
    "boolean": ("boolean", None),
    "short": ("short", None),
    "integer": ("int", None),
    "long": ("long", None),
    "float": ("float", None),
    "double": ("double", None),
    "string": ("char", "*"),
    "binary": ("unsignedByte", "*"),
    "timestamp": ("char", "*"),
    "timestamp_ntz": ("char", "*"),
    "date": ("char", "*"),
}


def _fields_xml(df: DataFrame) -> str:
    out = []
    for f in df.schema.fields:
        tname = f.dataType.typeName()
        if tname not in _VOTABLE_TYPES:
            raise ValueError(
                f"column {f.name!r}: no VOTable mapping for Spark type {tname}"
                " (flatten structs/arrays before export)"
            )
        dt, arraysize = _VOTABLE_TYPES[tname]
        arr = f' arraysize="{arraysize}"' if arraysize else ""
        # FITS TUNITn captured as column metadata by the reader flows
        # through to the VOTable unit attribute (VOTable 1.4 §4.1)
        md = f.metadata or {}
        unit = f" unit={quoteattr(md['fits.tunit'])}" if md.get("fits.tunit") else ""
        out.append(f'      <FIELD name={quoteattr(f.name)} datatype="{dt}"{arr}{unit}/>')
    return "\n".join(out)


def _cell(v) -> str:
    if v is None:
        return "<TD/>"
    if isinstance(v, bool):
        return f"<TD>{'true' if v else 'false'}</TD>"
    if isinstance(v, (bytes, bytearray)):
        return f"<TD>{bytes(v).hex()}</TD>"
    if hasattr(v, "isoformat"):
        return f"<TD>{v.isoformat()}</TD>"
    return f"<TD>{escape(str(v))}</TD>"


def _row_xml(row) -> str:
    return "        <TR>" + "".join(_cell(v) for v in row) + "</TR>"


def votable_header(df: DataFrame, table_name: str = "results") -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<VOTABLE version="1.4" xmlns="http://www.ivoa.net/xml/VOTable/v1.3">\n'
        "  <RESOURCE>\n"
        f'    <TABLE name={quoteattr(table_name)}>\n'
        f"{_fields_xml(df)}\n"
        "      <DATA><TABLEDATA>\n"
    )


VOTABLE_FOOTER = "      </TABLEDATA></DATA>\n    </TABLE>\n  </RESOURCE>\n</VOTABLE>\n"


def write_votable(df: DataFrame, path: str, table_name: str = "results") -> None:
    """Write ``df`` as one complete VOTable document at ``path``.

    Executors render each partition's ``<TR>`` rows into a hidden
    directory beside ``path`` on the driver's local filesystem; the driver
    then streams the header, the ``part-*`` files in partition order and
    the footer into a hidden file in the same directory and renames it
    onto ``path``. The driver holds no rows, so its memory does not grow
    with the row count. A column without a VOTable mapping raises
    :class:`ValueError`, and a directory of ``path`` that does not exist
    raises :class:`FileNotFoundError`, before any Spark job. A failed
    render or write leaves no file at ``path`` (an existing one is
    replaced only by a complete document) and no temporary file or
    directory behind; a part file the driver cannot see (executors on
    other hosts) fails the write instead of dropping its rows."""
    header = votable_header(df, table_name).encode()
    parent, name = os.path.split(os.path.abspath(path))
    if not os.path.isdir(parent):
        raise FileNotFoundError(f"no directory {parent!r} for the VOTable document")
    stem = os.path.join(parent, f".{name}.{uuid.uuid4().hex}")
    parts, tmp = stem + ".parts", stem + ".tmp"
    rows = df.rdd.mapPartitions(lambda it: ("\n".join(_row_xml(r) for r in it),)).filter(
        lambda s: s
    )
    try:
        rows.saveAsTextFile("file:" + parts)
        # one part per partition, an empty one included; part-00000 ...
        # part-99999, then part-100000: shorter names first
        names = sorted((n for n in os.listdir(parts) if n.startswith("part-")),
                       key=lambda n: (len(n), n))
        if len(names) != rows.getNumPartitions():
            raise OSError(f"{parts}: {len(names)} part files for "
                          f"{rows.getNumPartitions()} partitions")
        with open(tmp, "xb") as out:
            out.write(header)
            for n in names:
                with open(os.path.join(parts, n), "rb") as f:
                    shutil.copyfileobj(f, out)
            out.write(VOTABLE_FOOTER.encode())
        os.replace(tmp, path)
    finally:
        shutil.rmtree(parts, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.remove(tmp)


def read_votable_tabledata(spark, path: str, names: list[str]):
    """Read back the rows of a document :func:`write_votable` wrote: it
    puts one ``<TR><TD>..</TD>..</TR>`` per line, and only those lines
    hold ``<TR>``, so the header and footer drop out. Parsed entirely with
    Catalyst expressions (``spark.read.text`` + ``regexp_extract_all``) —
    splittable, linear, no Python on the data path. Cells come back as
    strings in FIELD order under the given ``names``; an empty TD (the
    VOTable null convention) becomes SQL NULL; the five XML entities the
    writer escapes are unescaped. Callers cast columns to their declared
    FIELD types. Fully general VOTable documents (BINARY2 serialization,
    nested RESOURCEs, rows across lines) belong to Spark's xml
    datasource."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path).filter(F.col("value").contains("<TR>"))
    cells = F.regexp_extract_all(
        F.replace(F.col("value"), F.lit("<TD/>"), F.lit("<TD></TD>")),
        F.lit("<TD>(.*?)</TD>"),
        1,
    )

    def unescape(c):
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&apos;", "'"), ("&amp;", "&")):
            c = F.replace(c, F.lit(ent), F.lit(ch))
        return c

    return lines.select(
        *[
            F.nullif(unescape(F.element_at(cells, i + 1)), F.lit("")).alias(n)
            for i, n in enumerate(names)
        ]
    )
