"""CLI entry: the engine's equivalent of the reference's
``python sqlengine.py "SELECT ..."`` / ``20172086.sh`` front door
(reference sqlengine.py:9-16, 20172086.sh:1).

    python -m sql_engine_spark "select A, B from table1 where A > 0"

Sources resolve in this order:
- ``--catalog DIR``: reference mode — a ``metadata.txt`` + ``<table>.csv``
  directory (the reference's own table format).
- ``--sf-dir DIR``: parquet corpus mode — registers the TESTDATA tables.

Output goes to stdout through ``df.show`` (E17 print sink, the reference's
``printOutput``, sqlengine.py:237-241); ``--output PATH`` writes a CSV
directory with a header through ``df.write`` instead (E18 CSV sink, the
legacy draft's ``dumpIntoOpFile``, modselect.py:200-203).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sql_engine_spark", description="Run one SQL query.")
    ap.add_argument("query", help="SQL text (reference dialect accepted: ==, GLOB, trailing ;)")
    ap.add_argument("--catalog", help="directory with metadata.txt + <table>.csv (reference mode)")
    ap.add_argument("--sf-dir", help="directory with the parquet corpus tables")
    ap.add_argument("--output", help="write result as CSV to this path instead of stdout")
    ap.add_argument("--limit", type=int, default=100, help="max rows printed to stdout")
    ns = ap.parse_args(argv)

    from sql_engine_spark.session import get_spark
    from sql_engine_spark.sql import run_sql

    spark = get_spark(app_name="sql_engine_spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if ns.catalog:
        from sql_engine_spark.sources.csv_catalog import load_reference_catalog

        load_reference_catalog(spark, ns.catalog)
    if ns.sf_dir:
        from sql_engine_spark.catalog import register_views

        register_views(spark, ns.sf_dir)

    df = run_sql(spark, ns.query)
    if ns.output:
        df.write.mode("overwrite").option("header", "true").csv(ns.output)
        print(f"wrote {ns.output}")
    else:
        df.show(ns.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
