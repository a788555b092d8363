"""CSV / COPY-text emission (SURVEY.md §2.A sink_csv) — the reference's
interchange output, as distributed partitioned CSV.

The reference streams CSV/COPY text serially; here each partition emits its
own file in parallel and a downstream ``COPY FROM`` ingests the directory.
``null_marker='\\N'`` matches PostgreSQL COPY text conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(
    df: DataFrame,
    path: str,
    *,
    null_marker: str = r"\N",
    delimiter: str = ",",
    single_file: bool = False,
) -> None:
    """Write ``df`` as CSV with a header row, replacing ``path``."""
    if single_file:
        # driver-side merge convenience for small exports — never at scale
        df = df.coalesce(1)
    (
        df.write.option("header", True)
        .option("nullValue", null_marker)
        .option("delimiter", delimiter)
        .option("quote", '"')
        .option("escape", '"')
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .mode("overwrite")
        .csv(path)
    )
