"""Sinks. The reference prints comma-joined rows to stdout
(``printOutput``, reference sqlengine.py:237-241) and its legacy draft
appends to ``output.csv`` (``dumpIntoOpFile``, modselect.py:200-203).
Spark-side these are ``show``/``write`` — distributed writers, one file
per partition, atomic via job commit protocol."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def show_stdout(df: DataFrame, n: int = 20) -> None:
    """Reference parity sink (sqlengine.py:237-241) — human-readable."""
    df.show(n, truncate=False)

