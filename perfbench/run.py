#!/usr/bin/env python3
"""Session benchmark for sql_engine_spark.

One client drives one SparkSession (``local[<cores>]``) in a closed loop
over a fixed query list, in repeated passes. Each query is a build step
(the matrix callable, or ``sql.run_sql`` for an SQL text) followed by an
execution into Spark's ``noop`` sink. The run

1. sets the engine up over the reference corpus in ``perfbench/data``:
   imports, ``get_spark``, ``register_views``,
2. runs one cold pass, which collects every result, and checks each
   result against its DuckDB oracle,
3. runs a fixed number of warm passes (``workloads.warm_passes``:
   ``--seconds`` over the workload's reference pass time),
4. prints a report and, as its last line, one JSON result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
engine's public functions in spans, registers a streaming listener,
reads Spark's status store after each pass and reports the per-layer
metrics; its spans and per-query counters go to
``.perfbench/trace-<workload>-<seed>.json``.

Usage::

    python3 perfbench/run.py --workload sql_retrieval --seed 1 --seconds 8 --trace 0
"""

from __future__ import annotations

import argparse
import importlib.abc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
SF = 0.01
# The engine's reference test corpus at sf 0.01, copied unchanged.
DATA_DIR = os.path.join(HERE, "data", f"sf{SF}")
DRIVER_MEM = "2g"
# Operator modules the workloads call. operators.relational and
# operators.sketches are left out: no query of either workload calls them.
OPERATOR_MODULES = ("dedup", "pipeline", "similarity", "multimodal", "text")
# Counters that must repeat exactly between traced passes and runs: as
# pass totals, and per query.
DETERMINISTIC = (
    "spark.stages", "spark.shuffle_write_records", "spark.shuffle_write_mb",
    "plan.exchanges", "matrix.build_jobs", "catalog.load_table_calls",
    "operators.dedup.memo_hit_ratio",
)
PER_QUERY = ("stages", "shuffle_write_records", "shuffle_write_mb")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import probes  # noqa: E402
from workloads import WORKLOADS, pass_order, warm_passes  # noqa: E402


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


# ------------------------------------------------------------ the loop


def run_queries(queries, run_one, clock=time.perf_counter) -> list[dict]:
    """Run each query once. A query that raises is recorded as failed,
    with its error, and carries no latency: a failure is never a fast
    query."""
    records = []
    for name, kind, group in queries:
        t0 = clock()
        try:
            phases = run_one(name, kind)
        except Exception as exc:  # noqa: BLE001 - any failure counts
            records.append(
                {"query": name, "group": group, "ok": False,
                 "error": f"{type(exc).__name__}: {exc}"[:400]}
            )
            continue
        records.append(
            {"query": name, "group": group, "ok": True, "latency_s": clock() - t0, **phases}
        )
    return records


def latencies(passes: list[dict]) -> list[float]:
    return [r["latency_s"] for p in passes for r in p["records"] if r["ok"]]


def clean_walls(passes: list[dict]) -> list[float]:
    """Pass wall times, leaving out passes in which a query failed (a
    pass that skipped work is not a faster pass) unless every pass had
    a failure, which already makes the run incorrect."""
    clean = [p["wall_s"] for p in passes if all(r["ok"] for r in p["records"])]
    return clean or [p["wall_s"] for p in passes]


def outcome(passes: list[dict], checks: list[tuple[str, bool, str]]):
    """(attempted, failed, report lines). A query run fails when it
    raises or when its output disagrees with the oracle."""
    raised = [r for p in passes for r in p["records"] if not r["ok"]]
    wrong = [(n, msg) for n, ok, msg in checks if not ok]
    attempted = sum(len(p["records"]) for p in passes) + len(checks)
    failed = len(raised) + len(wrong)
    lines = [f"FAILED (raised) {r['query']}: {r['error']}" for r in raised]
    lines += [f"FAILED (oracle) {n}: {msg}" for n, msg in wrong]
    lines.append(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} query runs)")
    return attempted, failed, lines


# ----------------------------------------------------------- the engine


class _OracleCorpusHook(importlib.abc.MetaPathFinder):
    """``sql_engine_spark.matrix`` derives its data-dependent oracle
    strings at import time from a fixed corpus path outside the
    checkout. This hook points that path at the benchmark's copy of the
    same corpus just before the first matrix submodule registers, so
    nothing outside the checkout is read."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir

    def find_spec(self, fullname, path=None, target=None):
        pkg = sys.modules.get("sql_engine_spark.matrix")
        if pkg is not None and fullname.startswith("sql_engine_spark.matrix."):
            pkg.DRIVER_SF_DIR = self.data_dir
        return None


class Engine:
    """The engine as one user session sees it."""

    def __init__(self, data_dir: str, tmp_dir: str, trace: bool):
        self.data_dir = data_dir
        self.tmp_dir = tmp_dir
        self.timings: dict[str, float] = {}
        self.collected: dict = {}  # query name -> its cold-pass result, as pandas
        # The engine's own core-count knob: master local[N] and N
        # shuffle partitions (it is read when the session module loads).
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        # The engine's heap knob (default 8g), read when the session
        # module loads. README.md says why the benchmark uses 2g.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # The launcher JVM that spark-submit starts first would otherwise
        # write a perf-data file under /tmp, outside the checkout.
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        hook = _OracleCorpusHook(data_dir)
        sys.meta_path.insert(0, hook)
        try:
            from sql_engine_spark import catalog, matrix, session, sql
            from sql_engine_spark.operators import dedup
        finally:
            sys.meta_path.remove(hook)
        self.catalog, self.matrix, self.sql, self.dedup = catalog, matrix, sql, dedup
        self.tracer = probes.Tracer() if trace else None
        if trace:
            self._install_tracer()

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench",
            master=f"local[{cores()}]",
            extra_conf=self._conf(),
        )
        self.timings["get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.store = probes.StatusStore(self.spark)
        if trace:
            self.tracer.job_id = self.store.next_job_id
            self.progress: list[dict] = []
            self.spark.streams.addListener(probes.streaming_listener(self._on_progress))
        t0 = time.perf_counter()
        catalog.register_views(self.spark, data_dir)
        self.timings["register_views_s"] = time.perf_counter() - t0

    def _conf(self) -> dict[str, str]:
        local = os.path.join(self.tmp_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        pythonpath = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        return {
            # Python workers import the engine from the checkout, not
            # from whatever directory the run was started in.
            "spark.executorEnv.PYTHONPATH": pythonpath,
            "spark.local.dir": local,
            # A fixed heap and young generation: the JVM's resident
            # size then follows the work, not adaptive heap sizing.
            # No perf-data file under /tmp for the driver JVM either.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp_dir} -Xms{DRIVER_MEM} -Xmn384m -XX:-UsePerfData"
            ),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def _install_tracer(self) -> None:
        from sql_engine_spark.operators import (  # noqa: F401
            dedup, multimodal, pipeline, similarity, text,
        )
        from sql_engine_spark.sql import frontend

        t = self.tracer
        t.wrap_module(self.catalog, "catalog", jobs=True)
        t.wrap_module(frontend, "sql")
        for name in OPERATOR_MODULES:
            t.wrap_module(sys.modules[f"sql_engine_spark.operators.{name}"], f"operators.{name}")
        t.watch_memo(dedup)

    def _on_progress(self, p: dict) -> None:
        p["query"] = self.tracer.query
        self.progress.append(p)

    # -- one query ------------------------------------------------------

    def build(self, name: str, kind: str):
        if kind == "sql":
            return self.sql.run_sql(self.spark, self.matrix.ORACLE[name])
        return self.matrix.QUERIES[name](self.spark, self.data_dir)

    def run_one(self, name: str, kind: str, collect: bool = False) -> dict:
        """Build and execute one query. The cold pass collects the result
        instead of writing it to the noop sink, so the output check
        compares it without running the query again."""
        t0 = time.perf_counter()
        df = self.build(name, kind)
        t1 = time.perf_counter()
        if collect:
            self.collected[name] = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        return {"build_s": t1 - t0, "execute_s": time.perf_counter() - t1}

    def run_one_traced(self, name: str, kind: str) -> dict:
        # Time spent in the probes themselves goes to tracer.overhead_s.
        t, store = self.tracer, self.store
        o = time.perf_counter()
        t.query = name
        calls, hits = t.memo_calls, t.memo_hits
        cpu0 = probes.cpu_snapshot(self.jvm_pid)
        jobs0 = store.next_job_id()
        t.overhead_s += time.perf_counter() - o
        try:
            with t.span(f"query.{name}", "query"):
                t0 = time.perf_counter()
                with t.span("matrix.build", "matrix"):
                    df = self.build(name, kind)
                t1 = time.perf_counter()
                jobs1 = store.next_job_id()
                t.overhead_s += time.perf_counter() - t1
                with t.span("matrix.execute", "matrix"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        finally:
            o = time.perf_counter()
            store.drain()  # deliver this query's streaming progress events
            t.query = None
        cpu1 = probes.cpu_snapshot(self.jvm_pid)
        jobs2 = store.next_job_id()
        t.overhead_s += time.perf_counter() - o
        return {
            "build_s": t1 - t0,
            "execute_s": t2 - t1,
            "jobs": [jobs0, jobs1, jobs2],
            "memo_calls": t.memo_calls - calls,
            "memo_hits": t.memo_hits - hits,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        }

    # -- one pass -------------------------------------------------------

    def run_pass(self, queries, traced: bool = False, collect: bool = False) -> dict:
        self.dedup.clear_shingle_index()
        if traced:
            self.tracer.enabled = True
            first_span, first_progress = len(self.tracer.spans), len(self.progress)
            overhead0 = self.tracer.overhead_s
        cpu0 = probes.cpu_snapshot(self.jvm_pid)
        steal0 = probes.host_steal_s()
        t0 = time.perf_counter()
        if traced:
            run_one = self.run_one_traced
        else:
            run_one = lambda name, kind: self.run_one(name, kind, collect)  # noqa: E731
        records = run_queries(queries, run_one)
        wall = time.perf_counter() - t0
        steal = probes.host_steal_s() - steal0
        cpu1 = probes.cpu_snapshot(self.jvm_pid)
        out = {
            "traced": traced,
            "wall_s": wall,
            "steal_s": steal,
            "order": [q[0] for q in queries],
            "records": records,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        }
        if traced:
            self.tracer.enabled = False
            out["layers"] = self._pass_layers(records, first_span, first_progress)
            out["layers"]["trace.overhead_s"] = self.tracer.overhead_s - overhead0
        return out

    def _pass_layers(self, records, first_span: int, first_progress: int) -> dict:
        """Per-layer counters of one traced pass, and per query."""
        t, store = self.tracer, self.store
        store.drain()
        jobs, stages = store.jobs(), store.stages()
        ok = [r for r in records if r["ok"]]
        lo = min((r["jobs"][0] for r in ok), default=0)
        execs = store.executions(lo)
        progress = self.progress[first_progress:]
        for r in ok:
            j0, j1, j2 = r["jobs"]
            r["spark"] = probes.spark_counters(jobs, stages, j0, j2)
            exch = bcast = 0
            for ejobs, plan in execs:
                if j0 <= min(ejobs) < j2:
                    s, b = probes.count_exchanges(plan)
                    exch, bcast = exch + s, bcast + b
            r["plan"] = {"exchanges": float(exch), "broadcast_exchanges": float(bcast)}
            r["build_jobs"] = float(j1 - j0)
            r["streaming"] = _streaming([p for p in progress if p["query"] == r["query"]])
        spans = t.spans[first_span:]
        # Self time: a span's duration minus that of its direct children.
        self_s = [s["end"] - s["start"] for s in spans]
        for s in spans:
            if s["parent"] is not None and s["parent"] >= first_span:
                self_s[s["parent"] - first_span] -= s["end"] - s["start"]
        m: dict[str, float] = {}
        for layer in (f"operators.{n}" for n in OPERATOR_MODULES):
            m[f"{layer}.calls"] = float(sum(s["layer"] == layer and not s["nested"] for s in spans))
            m[f"{layer}.s"] = sum(x for s, x in zip(spans, self_s) if s["layer"] == layer)
        loads = [s for s in spans if s["name"] == "catalog.load_table" and not s["nested"]]
        m["catalog.load_table_calls"] = float(len(loads))
        m["catalog.load_table_s"] = sum(s["end"] - s["start"] for s in loads)
        m["catalog.load_table_jobs"] = float(sum(s["job_hi"] - s["job_lo"] for s in loads))
        runs = [s for s in spans if s["name"] == "sql.run_sql" and not s["nested"]]
        m["sql.run_sql_calls"] = float(len(runs))
        m["sql.run_sql_s"] = sum(s["end"] - s["start"] for s in runs)
        m["matrix.build_s"] = sum(r["build_s"] for r in ok)
        m["matrix.execute_s"] = sum(r["execute_s"] for r in ok)
        m["matrix.build_jobs"] = sum(r["build_jobs"] for r in ok)
        calls = sum(r["memo_calls"] for r in ok)
        m["operators.dedup.memo_hit_ratio"] = sum(r["memo_hits"] for r in ok) / calls if calls else 0.0
        m["operators.dedup.memo_entries"] = float(t.memo_entries())
        m["operators.dedup.cached_mb"] = store.cached_mib()
        for key in ok[0]["spark"] if ok else ():
            m[f"spark.{key}"] = sum(r["spark"][key] for r in ok)
        busy_wall = sum(r["latency_s"] for r in ok) * cores()
        m["spark.core_busy_frac"] = m.get("spark.executor_run_s", 0.0) / busy_wall if busy_wall else 0.0
        for key in ("exchanges", "broadcast_exchanges"):
            m[f"plan.{key}"] = sum(r["plan"][key] for r in ok)
        for key, value in _streaming(progress).items():
            m[f"streaming.{key}"] = value
        for key in ("jvm", "pyworker", "driver"):
            m[f"proc.{key}_cpu_s"] = sum(r["cpu"][key] for r in ok)
        return m

    # -- correctness ----------------------------------------------------

    def check_outputs(self) -> list[tuple[str, bool, str]]:
        """Every result the cold pass collected against its DuckDB
        oracle, through the repository's own comparator; SQL texts run
        unchanged on DuckDB. A query that raised in the cold pass has no
        result here: it already counts as failed."""
        from types import SimpleNamespace

        from tests.oracle_harness import compare, run_oracle

        out = []
        for name, pdf in self.collected.items():
            try:
                oracle = self.matrix.oracle_for_sf(name, self.data_dir)
                # compare() takes a DataFrame and collects it itself.
                ok, msg = compare(SimpleNamespace(toPandas=lambda pdf=pdf: pdf),
                                  run_oracle(oracle, self.data_dir))
            except Exception as exc:  # noqa: BLE001
                ok, msg = False, f"{type(exc).__name__}: {exc}"[:400]
            out.append((name, ok, msg))
        self.collected.clear()
        return out

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        children = probes.descendants(self.jvm_pid)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap(children + [self.jvm_pid])


def _streaming(progress: list[dict]) -> dict[str, float]:
    last: dict[str, float] = {}
    for p in progress:
        last[p["run"]] = p["state_rows"]
    return {
        "batches": float(sum(p["input_rows"] > 0 for p in progress)),
        "input_rows": sum(p["input_rows"] for p in progress),
        "trigger_s": sum(p["trigger_s"] for p in progress),
        "add_batch_s": sum(p["add_batch_s"] for p in progress),
        "wal_commit_s": sum(p["wal_commit_s"] for p in progress),
        "state_rows": sum(last.values()),
    }


def _reap(pids: list[int], timeout: float = 15.0) -> None:
    deadline = time.time() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------- metrics


def end_to_end(setup_s: float, warm: list[dict], peak_rss: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (median([sum(p["cpu"].values()) for p in warm]), "s"),
        "peak_rss_mb": (peak_rss, "MiB"),
    }


def wall_times(first: dict, warm: list[dict]) -> dict:
    """The client's wall-clock times. The report prints them; they are
    not end-to-end metrics, because on a host that lends its cores out
    they follow the host's steal time more than the program (README.md,
    Steadiness and bounds)."""
    return {
        "first_pass_s": first["wall_s"],
        "pass_s": median(clean_walls(warm)),
        "query_gmean_s": geomean(list(per_query(warm).values())),
    }


LAYER_UNITS = {
    "_s": "s", "_calls": "count", "_jobs": "count", "_mb": "MiB", "_ratio": "ratio",
    "_frac": "ratio", "_entries": "count", "_records": "count", "_rows": "count",
}


def _unit(name: str) -> str:
    if name.endswith(".s"):
        return "s"
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(engine: Engine, traced: list[dict]) -> dict:
    """Medians over the traced passes, per pass. ``trace.overhead_s``
    is the time the probes and span bookkeeping themselves took."""
    keys = traced[0]["layers"].keys()
    m = {k: median([p["layers"][k] for p in traced]) for k in keys}
    m["session.get_spark_s"] = engine.timings["get_spark_s"]
    m["catalog.register_views_s"] = engine.timings["register_views_s"]
    return {k: (v, _unit(k)) for k, v in m.items()}


def per_query(passes: list[dict]) -> dict[str, float]:
    """Median latency of each query the passes ran without failing."""
    lat: dict[str, list[float]] = {}
    for p in passes:
        for r in p["records"]:
            if r["ok"]:
                lat.setdefault(r["query"], []).append(r["latency_s"])
    return {f"query.{q}_s": median(xs) for q, xs in lat.items()}


def determinism(a: dict, b: dict) -> list[str]:
    """Deterministic counters that differ between two traced passes, as
    pass totals and per query. The passes may come from different runs
    and query orders: memo-sharing queries keep their order (workloads.
    MEMO_SHARING), so the same query builds each memo in every pass."""
    problems = []
    for key in DETERMINISTIC:
        if a["layers"][key] != b["layers"][key]:
            problems.append(f"pass total {key}: {a['layers'][key]} != {b['layers'][key]}")
    qb = {r["query"]: r for r in b["records"] if r["ok"]}
    for ra in a["records"]:
        rb = qb.get(ra["query"])
        if not ra["ok"] or rb is None:
            continue
        for key in PER_QUERY:
            if ra["spark"][key] != rb["spark"][key]:
                problems.append(f"{ra['query']} spark.{key}: {ra['spark'][key]} != {rb['spark'][key]}")
        for key, x, y in (("plan", ra["plan"], rb["plan"]), ("matrix.build_jobs", ra["build_jobs"], rb["build_jobs"]),
                          ("memo_hits", (ra["memo_calls"], ra["memo_hits"]), (rb["memo_calls"], rb["memo_hits"]))):
            if x != y:
                problems.append(f"{ra['query']} {key}: {x} != {y}")
    return problems


def group_shares(traced: list[dict]) -> dict[str, dict[str, float]]:
    """Per query group and traced pass: CPU by process kind, shuffle
    written, streaming batches and memo lookups."""
    g: dict[str, dict[str, float]] = {}
    for p in traced:
        for r in p["records"]:
            if not r["ok"]:
                continue
            d = g.setdefault(r["group"], {})
            for k, v in r["cpu"].items():
                d[f"{k}_cpu_s"] = d.get(f"{k}_cpu_s", 0.0) + v
            d["shuffle_write_mb"] = d.get("shuffle_write_mb", 0.0) + r["spark"]["shuffle_write_mb"]
            d["streaming_batches"] = d.get("streaming_batches", 0.0) + r["streaming"]["batches"]
            d["memo_calls"] = d.get("memo_calls", 0.0) + r["memo_calls"]
            d["memo_hits"] = d.get("memo_hits", 0.0) + r["memo_hits"]
    for d in g.values():
        for k in d:
            d[k] /= len(traced)
        cpu = d["jvm_cpu_s"] + d["pyworker_cpu_s"] + d["driver_cpu_s"]
        d["pyworker_share"] = d["pyworker_cpu_s"] / cpu if cpu else 0.0
        d["memo_hit_ratio"] = d["memo_hits"] / d["memo_calls"] if d["memo_calls"] else 0.0
    return g


def coverage(groups: dict[str, dict[str, float]]) -> list[str]:
    """Each query group loads the layer it was chosen for. Checks whose
    groups are not both in this run are left to the cross-workload
    check (check.py)."""
    problems = []
    if "retrieval" in groups and groups["retrieval"]["pyworker_share"] < 0.1:
        problems.append("retrieval: Python workers are not a large share of CPU")
    for quiet in ("sql", "relational"):
        if quiet in groups and groups[quiet]["pyworker_share"] > 0.02:
            problems.append(f"{quiet}: Python workers used CPU")
    for name, d in groups.items():
        if (d["streaming_batches"] > 0) != (name == "stream"):
            problems.append(f"{name}: streaming batches = {d['streaming_batches']}")
    if "dedup" in groups and groups["dedup"]["memo_hit_ratio"] <= 0:
        problems.append("dedup: no memo lookup found a memoized index")
    if "dedup" in groups:
        top = max(groups, key=lambda n: groups[n]["shuffle_write_mb"])
        if top != "dedup":
            problems.append(f"shuffle written is highest in {top}, not dedup")
    return problems


# ----------------------------------------------------------------- main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sql_engine_spark", "__init__.py")):
        print(f"perfbench: no sql_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    queries = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    tmp_dir = os.path.join(CACHE, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    import tempfile

    tempfile.tempdir = tmp_dir
    trace = bool(args.trace)
    n_warm = warm_passes(args.workload, args.seconds, trace)

    t_setup = time.perf_counter()
    engine = Engine(DATA_DIR, tmp_dir, trace)
    setup_s = time.perf_counter() - t_setup
    try:
        order = lambda: pass_order(queries, rng)  # noqa: E731
        first = engine.run_pass(order(), collect=True)
        t_check = time.perf_counter()
        checks = engine.check_outputs()
        check_s = time.perf_counter() - t_check
        # The peak resident size covers the warm passes only, not the
        # check's collected results and DuckDB.
        probes.release_free_memory()
        for pid in (engine.jvm_pid, os.getpid()):
            probes.reset_peak_rss(pid)
        # Traced runs alternate traced and untraced passes, starting
        # and ending traced.
        warm = [engine.run_pass(order(), traced=trace and i % 2 == 0) for i in range(n_warm)]
        peak_rss = probes.peak_rss_mib(engine.jvm_pid) + probes.peak_rss_mib(os.getpid())
    finally:
        t_stop = time.perf_counter()
        engine.stop()
        shutil.rmtree(tmp_dir, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop

    attempted, failed, lines = outcome([first] + warm, checks)
    print(f"# workload {args.workload}: {len(queries)} queries, seed {args.seed}, "
          f"{cores()} cores, sf {SF}, {len(warm)} warm passes; "
          f"output check {check_s:.1f} s, shutdown {stop_s:.1f} s")
    print(f"# pass walls (s): first {first['wall_s']:.2f}, warm "
          + " ".join(f"{p['wall_s']:.2f}{' traced' if p['traced'] else ''}" for p in warm))
    print("# host steal per warm pass (vCPU-s): " + " ".join(f"{p['steal_s']:.2f}" for p in warm))
    for line in lines:
        print(f"# {line}")
    lat = sorted(latencies(warm))
    # The highest percentile with at least ten samples above it.
    top = max((p for p in (75, 80, 90, 95, 99) if len(lat) * (100 - p) / 100 >= 10), default=None)
    print(f"# warm query latency over {len(lat)} runs: p50 {median(lat):.3f} s"
          + (f", p{top} {lat[int(len(lat) * top / 100)]:.3f} s" if top else ""))
    if trace:
        traced = [p for p in warm if p["traced"]]
        untraced = [p for p in warm if not p["traced"]]
        metrics = per_layer(engine, traced)
        # The client's wall clock, unbounded here (see wall_times).
        metrics["client.first_pass_s"] = (first["wall_s"], "s")
        metrics["client.pass_s"] = (median(clean_walls(untraced)), "s")
        queries_s = per_query(traced)
        groups = group_shares(traced)
        problems = [p for t in traced[1:] for p in determinism(traced[0], t)] + coverage(groups)
        for name, value in queries_s.items():
            print(f"# {name} = {value:.4g} s (median over traced passes)")
        for name, d in sorted(groups.items()):
            print(f"# group {name}: " + " ".join(f"{k}={v:.4g}" for k, v in sorted(d.items())))
        print(f"# tracing overhead per pass: {metrics['trace.overhead_s'][0]:.3f} s in the probes; "
              f"traced minus untraced pass wall {median(clean_walls(traced)) - median(clean_walls(untraced)):.3f} s")
        for prob in problems:
            print(f"# CHECK {prob}")
        print(f"# determinism and layer-coverage checks: {'FAIL' if problems else 'pass'}")
        with open(os.path.join(CACHE, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "metrics": metrics,
                 "queries": queries_s, "groups": groups, "problems": problems,
                 "passes": traced, "spans": engine.tracer.spans},
                f,
            )
    else:
        metrics = end_to_end(setup_s, warm, peak_rss)
        cold = per_query([first])
        for name, value in per_query(warm).items():
            print(f"# {name} = {value:.4g} s warm median, {cold.get(name, math.nan):.4g} s cold")
        for name, value in wall_times(first, warm).items():
            print(f"# {name} = {value:.6g} s (wall clock, reported only)")
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
