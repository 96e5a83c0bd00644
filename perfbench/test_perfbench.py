"""Tests of the benchmark's own bookkeeping; none of them starts Spark.

Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
import run  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_query_forced_to_raise_counts_as_failed_not_fast():
    clock = FakeClock()

    def run_one(name, kind):
        if name == "boom":
            raise RuntimeError("forced")  # fails at once: 0 s elapsed
        clock.t += 2.0
        return {"build_s": 1.0, "execute_s": 1.0}

    queries = [("a", "matrix", "g"), ("boom", "matrix", "g"), ("c", "sql", "g")]
    records = run.run_queries(queries, run_one, clock=clock)
    assert [r["ok"] for r in records] == [True, False, True]
    assert "latency_s" not in records[1]
    assert records[1]["error"] == "RuntimeError: forced"

    failing = {"wall_s": 4.0, "records": records, "cpu": {}}
    clean = {"wall_s": 6.0, "records": [r for r in records if r["ok"]], "cpu": {}}
    # The failed run is in no latency figure, and the pass it shortened
    # is not the pass time while a clean pass exists.
    assert run.latencies([failing]) == [2.0, 2.0]
    assert run.clean_walls([failing, clean]) == [6.0]
    attempted, failed, lines = run.outcome([failing, clean], [("a", True, "exact match")])
    assert (attempted, failed) == (6, 1)
    assert any("FAILED (raised) boom" in line for line in lines)


def test_oracle_mismatch_counts_as_failed():
    passes = [{"wall_s": 1.0, "records": [{"query": "a", "ok": True, "latency_s": 1.0}]}]
    attempted, failed, lines = run.outcome(passes, [("a", False, "rowcount mismatch")])
    assert (attempted, failed) == (2, 1)
    assert "FAILED (oracle) a: rowcount mismatch" in lines


PLAN = """== Physical Plan ==
OverwriteByExpression (22)
+- AdaptiveSparkPlan (21)
   +- == Final Plan ==
      ResultQueryStage (15)
      +- * Project (14)
         +- * BroadcastHashJoin Inner BuildRight (13)
            :- * HashAggregate (8)
            :  +- AQEShuffleRead (7)
            :     +- ShuffleQueryStage (6)
            :        +- Exchange (5)
            :           +- * Range (1)
            +- BroadcastQueryStage (12)
               +- BroadcastExchange (11)
                  +- * Range (9)
   +- == Initial Plan ==
      Project (20)
      +- BroadcastHashJoin Inner BuildRight (19)
         :- Exchange (16)
         +- BroadcastExchange (18)


(5) Exchange
Arguments: hashpartitioning(k#1L, 4)
"""


def test_count_exchanges_reads_the_final_plan_only():
    assert probes.count_exchanges(PLAN) == (1, 1)
    assert probes.count_exchanges("== Physical Plan ==\n+- Exchange (2)\n   +- Exchange (1)\n") == (2, 0)


def test_spark_counters_attribute_jobs_by_id_range():
    jobs = [
        {"jobId": 0, "stageIds": [0], "numSkippedStages": 0},
        {"jobId": 1, "stageIds": [1, 2], "numSkippedStages": 1},
        {"jobId": 2, "stageIds": [3], "numSkippedStages": 0},
    ]
    base = {"numTasks": 4, "shuffleWriteBytes": 1024 * 1024, "shuffleWriteRecords": 10,
            "shuffleReadBytes": 0, "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
            "inputRecords": 5, "executorRunTime": 1000, "executorCpuTime": 10**9, "jvmGcTime": 0}
    stages = [dict(base, stageId=i, status="COMPLETE") for i in (0, 1, 3)]
    stages.append(dict(base, stageId=2, status="SKIPPED"))
    c = probes.spark_counters(jobs, stages, 1, 3)
    assert c["jobs"] == 2 and c["stages"] == 2 and c["stages_skipped"] == 1
    assert c["shuffle_write_mb"] == 2.0 and c["executor_cpu_s"] == 2.0


def _record(name, stages):
    return {"query": name, "group": "g", "ok": True, "memo_calls": 1, "memo_hits": 0,
            "spark": {"stages": stages, "shuffle_write_records": 1.0, "shuffle_write_mb": 1.0},
            "plan": {"exchanges": 1.0}, "build_jobs": 1.0}


def test_determinism_names_counters_that_do_not_repeat():
    layers = {k: 1.0 for k in run.DETERMINISTIC}
    a = {"layers": layers, "records": [_record("q", 3.0), _record("r", 5.0)]}
    b = {"layers": dict(layers, **{"spark.stages": 2.0}),
         "records": [_record("r", 5.0), _record("q", 4.0)]}
    assert run.determinism(a, b) == [
        "pass total spark.stages: 1.0 != 2.0",
        "q spark.stages: 3.0 != 4.0",
    ]
    assert run.determinism(a, a) == []


def test_pass_order_keeps_memo_sharing_queries_in_order():
    import random

    from workloads import MEMO_SHARING, WORKLOADS, pass_order

    queries = WORKLOADS["dedup_stream"]
    rng = random.Random(7)
    orders = [pass_order(queries, rng) for _ in range(20)]
    for order in orders:
        assert sorted(order) == sorted(queries)
        assert [q[0] for q in order if q[0] in MEMO_SHARING] == MEMO_SHARING
    assert len({tuple(o) for o in orders}) > 1  # the seed still shuffles


def test_coverage_flags_a_layer_that_is_not_loaded():
    quiet = {"pyworker_share": 0.0, "shuffle_write_mb": 0.1, "streaming_batches": 0.0, "memo_hit_ratio": 0.0}
    groups = {
        "sql": dict(quiet),
        "retrieval": dict(quiet, pyworker_share=0.3),
        "dedup": dict(quiet, shuffle_write_mb=3.0, memo_hit_ratio=0.6),
        "stream": dict(quiet, streaming_batches=2.0),
    }
    assert run.coverage(groups) == []
    groups["retrieval"]["pyworker_share"] = 0.01
    groups["sql"]["streaming_batches"] = 1.0
    assert len(run.coverage(groups)) == 2


def test_warm_pass_count_depends_on_the_arguments_only():
    from workloads import PASS_SECONDS, warm_passes

    for workload, pass_s in PASS_SECONDS.items():
        assert warm_passes(workload, 0.1, traced=False) == 1
        assert warm_passes(workload, 4 * pass_s, traced=False) == 4
        assert warm_passes(workload, 0.1, traced=True) == 3
        assert warm_passes(workload, 4 * pass_s, traced=True) == 5  # starts and ends traced


def test_per_query_latency_covers_only_queries_that_ran():
    passes = [
        {"records": [{"query": "a", "ok": True, "latency_s": 1.0}, {"query": "b", "ok": False}]},
        {"records": [{"query": "a", "ok": True, "latency_s": 3.0}, {"query": "b", "ok": False}]},
    ]
    assert run.per_query(passes) == {"query.a_s": 2.0}


def test_the_corpus_is_the_reference_corpus():
    tables = sorted(f[: -len(".parquet")] for f in os.listdir(run.DATA_DIR))
    assert tables == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings"]
    )


def test_without_the_engine_the_run_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_retrieval",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(ValueError):
            json.loads(line)


def test_benchmark_json_names_every_reported_metric_with_its_unit():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name, unit in units.items():
        assert run._unit(name) == unit, name
    e2e = run.end_to_end(1.0, [{"wall_s": 1.0, "records": [], "cpu": {"jvm": 1.0}}], 1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}


def test_wall_times_leave_out_failed_queries():
    ok = {"query": "a", "ok": True, "latency_s": 2.0}
    warm = [{"wall_s": 3.0, "records": [ok, {"query": "b", "ok": False}]},
            {"wall_s": 5.0, "records": [ok, dict(ok, query="b", latency_s=8.0)]}]
    times = run.wall_times({"wall_s": 9.0}, warm)
    assert times == {"first_pass_s": 9.0, "pass_s": 5.0, "query_gmean_s": 4.0}
