"""Outside-in instruments: ``/proc`` readers, Spark status-store readers,
a streaming listener, and the span tracer that wraps the engine's
public functions. Nothing here changes what the engine computes."""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import re
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
MIB = 1024.0 * 1024.0


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name is parenthesised and may hold spaces.
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_ticks(fields: list[str]) -> tuple[int, int]:
    """(own utime+stime, reaped children's cutime+cstime) in ticks."""
    return int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_snapshot(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the JVM, of the Python workers it forked
    (live ones plus everything they and the JVM reaped) and of this
    Python driver. Differences of two snapshots are exact to one tick,
    as long as the JVM lives."""
    jvm = _stat_fields(jvm_pid)
    if jvm is None:
        raise RuntimeError(f"JVM process {jvm_pid} is gone")
    jvm_own, jvm_reaped = _cpu_ticks(jvm)
    workers = jvm_reaped
    for pid in descendants(jvm_pid):
        fields = _stat_fields(pid)
        if fields is not None:
            own, reaped = _cpu_ticks(fields)
            workers += own + reaped
    t = os.times()
    return {
        "jvm": jvm_own / CLK_TCK,
        "pyworker": workers / CLK_TCK,
        "driver": t.user + t.system,
    }


def host_steal_s() -> float:
    """vCPU seconds so far that the host ran something else while this
    machine's vCPUs were ready to run (steal time, all vCPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def peak_rss_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def reset_peak_rss(pid: int) -> None:
    """Reset the process's peak resident size (VmHWM) to its current
    resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def release_free_memory() -> None:
    """Hand this process's freed heap back to the system, so memory a
    finished step freed is not counted as resident afterwards."""
    import ctypes
    import gc

    gc.collect()
    malloc_trim = ctypes.CDLL("libc.so.6").malloc_trim
    malloc_trim.argtypes = [ctypes.c_size_t]
    malloc_trim.restype = ctypes.c_int
    malloc_trim(0)


# ------------------------------------------------------- status store


class StatusStore:
    """Reads jobs, stages, SQL executions and cached RDDs from the
    driver's Spark status store through py4j, serialising each list to
    JSON on the JVM side so one read is one call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until every listener has seen every event so far."""
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def _json(self, seq) -> list:
        return json.loads(self._mapper.writeValueAsString(self._conv.asJava(seq)))

    def jobs(self) -> list[dict]:
        return self._json(self.jsc.statusStore().jobsList(self._empty))

    def stages(self) -> list[dict]:
        store = self.jsc.statusStore()
        return self._json(
            store.stageList(self._empty, False, False, self._no_quantiles, self._empty)
        )

    def executions(self, after_job: int) -> list[tuple[list[int], str]]:
        """(job ids, physical plan text) of SQL executions that ran a
        job numbered ``after_job`` or later."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in self._conv.asJava(store.executionsList()):
            jobs = [int(j) for j in self._conv.asJava(e.jobs().keys())]
            if jobs and max(jobs) >= after_job:
                out.append((jobs, e.physicalPlanDescription()))
        return out

    def cached_mib(self) -> float:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo()) / MIB


_EXCHANGE = re.compile(r"^[\s:|+\-*]*(Exchange|BroadcastExchange) \(")


def count_exchanges(plan: str) -> tuple[int, int]:
    """(shuffle, broadcast) exchanges in the plan Spark ran: the final
    adaptive plan when there is one, else the whole plan tree."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    shuffle = broadcast = 0
    for line in tree.splitlines():
        m = _EXCHANGE.match(line)
        if m:
            if m.group(1) == "Exchange":
                shuffle += 1
            else:
                broadcast += 1
    return shuffle, broadcast


def spark_counters(jobs: list[dict], stages: list[dict], lo: int, hi: int) -> dict[str, float]:
    """Status-store counters of the jobs numbered ``lo`` <= id < ``hi``.
    A stage counts once, for the first job in range that lists it."""
    in_range = sorted((j for j in jobs if lo <= j["jobId"] < hi), key=lambda j: j["jobId"])
    stage_ids: set[int] = set()
    for j in in_range:
        stage_ids.update(j["stageIds"])
    ran = [s for s in stages if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
    total = lambda key: float(sum(s[key] for s in ran))  # noqa: E731
    return {
        "jobs": float(len(in_range)),
        "stages": float(len(ran)),
        "stages_skipped": float(sum(j["numSkippedStages"] for j in in_range)),
        "tasks": total("numTasks"),
        "shuffle_write_mb": total("shuffleWriteBytes") / MIB,
        "shuffle_write_records": total("shuffleWriteRecords"),
        "shuffle_read_mb": total("shuffleReadBytes") / MIB,
        "spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / MIB,
        "input_records": total("inputRecords"),
        "executor_run_s": total("executorRunTime") / 1e3,
        "executor_cpu_s": total("executorCpuTime") / 1e9,
        "gc_s": total("jvmGcTime") / 1e3,
    }


# ------------------------------------------------------------ streaming


def streaming_listener(on_progress):
    """A StreamingQueryListener that hands each progress event's
    counters to ``on_progress``. Built lazily so importing this module
    does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            on_progress(
                {
                    "run": str(p.runId),
                    "input_rows": float(p.numInputRows),
                    "trigger_s": d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "wal_commit_s": d.get("walCommit", 0) / 1e3,
                    "state_rows": float(sum(s.numRowsTotal for s in p.stateOperators)),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# --------------------------------------------------------------- spans


class Tracer:
    """Span recorder. ``wrap_module`` replaces each public function of a
    module by a wrapper that records one span per call, and patches the
    same function object wherever another engine module holds it (a
    bare ``from ... import name`` as well as ``module.name``). Spans
    stay in memory until the run writes them out."""

    def __init__(self, package: str = "sql_engine_spark"):
        self.package = package
        self.enabled = False
        self.pid = os.getpid()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query: str | None = None
        self.job_id = None  # callable returning the next Spark job id
        self.memo_calls = 0
        self.memo_hits = 0
        self.memos: dict[int, dict] = {}
        self.overhead_s = 0.0  # time spent recording, not in the engine

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False):
        t_in = time.perf_counter()
        nested = any(self.spans[i]["layer"] == layer for i in self._stack)
        span = {
            "name": name,
            "layer": layer,
            "query": self.query,
            "parent": self._stack[-1] if self._stack else None,
            "nested": nested,
        }
        if jobs and self.job_id is not None:
            span["job_lo"] = self.job_id()
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        t_body = span["start"] = time.perf_counter()
        try:
            yield
        finally:
            t_out = time.perf_counter()
            span["end"] = t_out
            if "job_lo" in span:
                span["job_hi"] = self.job_id()
            self._stack.pop()
            self.overhead_s += (t_body - t_in) + (time.perf_counter() - t_out)

    def _active(self) -> bool:
        return self.enabled and os.getpid() == self.pid

    def _wrap(self, fn, layer: str, jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._active():
                return fn(*args, **kwargs)
            with tracer.span(f"{layer}.{fn.__name__}", layer, jobs):
                return fn(*args, **kwargs)

        return traced

    def _replace_everywhere(self, old, new) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == self.package or name.startswith(self.package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is old:
                    setattr(mod, attr, new)

    def wrap_module(self, module, layer: str, jobs: bool = False) -> None:
        for attr, fn in list(vars(module).items()):
            if inspect.isfunction(fn) and fn.__module__ == module.__name__ and not attr.startswith("_"):
                self._replace_everywhere(fn, self._wrap(fn, layer, jobs))

    def watch_memo(self, module, attr: str = "_memo_persist") -> None:
        """Count memo lookups: a call is a hit when it returns an object
        the memo already held. The memo dicts seen are kept so their
        entry count can be read at the end of a pass."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def watched(memo, *args, **kwargs):
            if not tracer._active():
                return fn(memo, *args, **kwargs)
            t0 = time.perf_counter()
            held = {id(v) for v in memo.values()}
            t1 = time.perf_counter()
            out = fn(memo, *args, **kwargs)
            t2 = time.perf_counter()
            tracer.memos[id(memo)] = memo
            tracer.memo_calls += 1
            tracer.memo_hits += id(out) in held
            tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            return out

        self._replace_everywhere(fn, watched)

    def memo_entries(self) -> int:
        return sum(len(m) for m in self.memos.values())
