"""Reference-mode source: ``metadata.txt`` catalog + headerless integer CSVs.

The reference's data model (SURVEY.md §1): a catalog file with the framing

    <begin_table>
    <table name>
    <attr 1>
    ...
    <end_table>

(parsed by ``definedb``, reference sqlengine.py:72-90), plus one
``<table>.csv`` per table with NO header row, column order = catalog
order, all values integers that may or may not be double-quoted
(reference sqlengine.py:104-117; assignment PDF p.1).

Here the catalog becomes ``StructType`` schemas and the CSVs become
ordinary Spark CSV scans — distributed, lazy, and typed at read time
instead of ``int()``-casting at every comparison (sqlengine.py:186,191).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

BEGIN, END = "<begin_table>", "<end_table>"


def parse_metadata(metadata_path: str) -> dict[str, list[str]]:
    """Parse the ``metadata.txt`` framing into {table: [column, ...]}.

    Same grammar the reference's ``definedb`` consumes
    (sqlengine.py:72-90): first line after ``<begin_table>`` is the table
    name, following lines until ``<end_table>`` are attribute names.
    A framing token is never a name or a column: a missing name, a table
    not closed before the next ``<begin_table>`` or the end of the file,
    and a duplicate table name each raise ``ValueError`` naming the line.
    """

    def fail(lineno: int, msg: str):
        raise ValueError(f"{metadata_path}:{lineno}: {msg}")

    with open(metadata_path, encoding="utf-8") as fh:
        lines = iter([(n, ln.strip()) for n, ln in enumerate(fh, 1) if ln.strip()])
    catalog: dict[str, list[str]] = {}
    for n, tok in lines:
        if tok != BEGIN:
            fail(n, f"expected {BEGIN!r}, got {tok!r}")
        n, name = next(lines, (n, None))
        if name is None or name in (BEGIN, END):
            fail(n, f"expected a table name after {BEGIN!r}, got {name or 'end of file'!r}")
        if name in catalog:
            fail(n, f"duplicate table {name!r}")
        name_line, cols = n, []
        for n, tok in lines:
            if tok == END:
                break
            if tok == BEGIN:
                fail(n, f"table {name!r} (line {name_line}) has no {END!r} before this {BEGIN!r}")
            cols.append(tok)
        else:
            fail(name_line, f"unterminated table {name!r}: no {END!r}")
        catalog[name] = cols
    return catalog


def catalog_schema(columns: list[str]) -> StructType:
    """Integer-only model (assignment PDF p.1) → LongType columns."""
    return StructType([StructField(c, LongType(), nullable=False) for c in columns])


def read_catalog_csv(spark: SparkSession, data_dir: str, name: str, columns: list[str]) -> DataFrame:
    """Read ``<data_dir>/<name>.csv`` with the catalog schema.

    Spark's CSV reader handles the reference's mixed quoted/bare values
    (``158,"11191"`` vs ``773,14421``, reference table2.csv:1-2) exactly
    like Python's csv module did (sqlengine.py:110).
    """
    path = os.path.join(data_dir, f"{name}.csv")
    if not os.path.exists(path):
        # The reference errors and exits on a missing table file
        # (sqlengine.py:114-117); we raise instead of exiting.
        raise FileNotFoundError(f"table file not found: {path}")
    return spark.read.schema(catalog_schema(columns)).csv(path, header=False)


def load_reference_catalog(spark: SparkSession, data_dir: str, register: bool = True) -> dict[str, DataFrame]:
    """Load every table declared in ``<data_dir>/metadata.txt``.

    Returns {name: DataFrame}; optionally registers temp views so the
    SQL front door (sql_engine_spark.sql) can resolve them.
    """
    catalog = parse_metadata(os.path.join(data_dir, "metadata.txt"))
    out: dict[str, DataFrame] = {}
    for name, cols in catalog.items():
        df = read_catalog_csv(spark, data_dir, name, cols)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
