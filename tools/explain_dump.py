#!/usr/bin/env python3
"""Dump ``.explain("formatted")`` for bench queries to a round dir.

Usage: python tools/explain_dump.py <round_dir>/<tag> [query ...]
e.g. ``python tools/explain_dump.py r17/before x34_tfidf_topterms``
writes plans/r17/<query>_before.txt for each query (default: the full
bench set). A bare ``<tag>`` with no slash writes to plans/<tag>/...
Pure plan compilation — no job runs, so the dump is cheap and a
before/after plan claim is one ``diff -r`` of two dumps. Expression ids
(``#<n>``) and exchange ``plan_id=<n>`` vary between runs, so every dump
writes them with the number stripped.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402


def normalise(plan: str) -> str:
    """``plan`` with expression ids and exchange plan ids blanked, so
    two dumps of the same plan compare byte-equal."""
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", plan))


def main() -> None:
    arg = sys.argv[1] if len(sys.argv) > 1 else "before"
    round_dir, _, tag = arg.rpartition("/")
    names = sys.argv[2:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", round_dir) if round_dir else os.path.join(
        repo, "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)

    from sql_engine_spark import matrix
    from sql_engine_spark.operators.dedup import clear_shingle_index
    from sql_engine_spark.session import get_spark

    spark = get_spark(app_name="sql_engine_spark-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        clear_shingle_index()
        df = matrix.QUERIES[name](spark, sf_dir)
        plan = normalise(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
