#!/usr/bin/env python3
"""Cross-run checks of the traced benchmark.

Runs ``run.py --trace 1`` twice per workload, with two seeds (so two
query orders), and checks that

- the deterministic counters repeat exactly between the two runs, as
  pass totals and per query (``run.determinism``);
- each query group loads the layer it was chosen for, across both
  workloads (``run.coverage``): Python workers carry a large share of
  the CPU of the retrieval queries and none of the SQL and TPC-H ones,
  dedup writes the most shuffle, only stream queries run micro-batches,
  and dedup lookups find memoized indexes.

Usage::

    python3 perfbench/check.py

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import CACHE, ROOT, coverage, determinism  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEEDS = (1, 2)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SECONDS = json.load(f)["run_seconds"]


def traced_run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect output\n{proc.stdout}")
    with open(os.path.join(CACHE, f"trace-{workload}-{seed}.json")) as f:
        return json.load(f)


def main() -> int:
    problems: list[str] = []
    groups: dict[str, dict] = {}
    for workload in sorted(WORKLOADS):
        a, b = (traced_run(workload, s) for s in SEEDS)
        found = determinism(a["passes"][0], b["passes"][0])
        print(f"{workload}: determinism across seeds {SEEDS}: "
              f"{'FAIL' if found else 'pass'}")
        problems += [f"{workload}: {p}" for p in found]
        groups.update(a["groups"])
        print(f"{workload}: tracing overhead per pass "
              f"{a['metrics']['trace.overhead_s'][0]:.3f} s, {b['metrics']['trace.overhead_s'][0]:.3f} s")
    for name, d in sorted(groups.items()):
        print(f"group {name}: pyworker_share={d['pyworker_share']:.3f} "
              f"shuffle_write_mb={d['shuffle_write_mb']:.3f} "
              f"streaming_batches={d['streaming_batches']:g} memo_hit_ratio={d['memo_hit_ratio']:.3f}")
    found = coverage(groups)
    print(f"layer coverage: {'FAIL' if found else 'pass'}")
    problems += found
    for p in problems:
        print(f"  {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
