"""Operators that share one session: no operator writes session conf
for the length of a call, the dedup memos build a shared artifact
once under concurrent callers, and two matrix queries running at once
on one session both still match their DuckDB oracles."""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.conf import RuntimeConfig

from sql_engine_spark import matrix
from sql_engine_spark.catalog import load_table
from sql_engine_spark.operators import dedup as D
from tests.oracle_harness import compare, run_oracle


def _run_together(*fns):
    """Start every callable at the same instant on its own thread and
    return their results in order (a raised exception propagates)."""
    barrier = threading.Barrier(len(fns))

    def go(fn):
        barrier.wait()
        return fn()

    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(go, fn) for fn in fns]
        return [f.result() for f in futures]


def test_no_operator_writes_shuffle_partitions(spark, sf_dir, monkeypatch):
    """The distributed connected-components loop and a streaming run
    leave ``spark.sql.shuffle.partitions`` alone: a query planned on
    the same session meanwhile must never see a transient value. The
    session conf is already deliberate ("8"), so the one sanctioned
    writer, ``rightsize_shuffle_partitions``, stays silent too."""
    written: list[str] = []
    orig_set = RuntimeConfig.set

    def recording_set(self, key, value):
        written.append(key)
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = spark.createDataFrame([(i, i + 1) for i in range(100)], "id_a long, id_b long")
    verts = spark.createDataFrame([(i,) for i in range(101)], "doc_id long")
    out = D.connected_components(edges, verts, max_iterations=8, driver_threshold=0)
    assert {r.component for r in out.collect()} == {0}
    stream_out = matrix.QUERIES["s04_stream_dedup"](spark, sf_dir)
    assert stream_out.count() > 0
    assert "spark.sql.shuffle.partitions" not in written, written


def test_memo_builds_once_under_concurrent_callers(spark, sf_dir, monkeypatch):
    """Two threads asking for the same shingle index while the first
    build is still running get ONE persisted artifact: the lookup,
    build and insert happen under the memo lock."""
    docs = load_table(spark, sf_dir, "documents")
    builds: list[int] = []
    orig = D.ensure_parallelism

    def slow_ensure_parallelism(df):
        builds.append(threading.get_ident())
        time.sleep(0.5)  # hold the build open while the other thread looks up
        return orig(df)

    D.clear_shingle_index()
    monkeypatch.setattr(D, "ensure_parallelism", slow_ensure_parallelism)
    try:
        a, b = _run_together(lambda: D.shingle_index(docs), lambda: D.shingle_index(docs))
        assert len(builds) == 1, builds
        assert a is b
    finally:
        D.clear_shingle_index()


@pytest.mark.parametrize(
    "pair",
    [
        ("x20_dedup_components", "q5_local_supplier_volume"),
        ("x54_incremental_dedup", "s01_stream_tumbling"),
    ],
)
def test_two_queries_on_one_session_match_oracles(spark, sf_dir, pair):
    """Two matrix queries built and executed at once on one session
    both match their DuckDB oracles."""

    def checked(name):
        return lambda: compare(
            matrix.QUERIES[name](spark, sf_dir),
            run_oracle(matrix.oracle_for_sf(name, sf_dir), sf_dir),
        )

    results = _run_together(*(checked(name) for name in pair))
    for name, (ok, msg) in zip(pair, results):
        assert ok, f"{name}: {msg}"
