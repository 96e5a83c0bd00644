#!/usr/bin/env python3
"""A/B the session benchmark between two checkouts of the repository.

Usage::

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seconds S

Each pair runs ``python3 perfbench/run.py --trace 0`` once in each
checkout, one after the other, with the same seed on both sides (pair
``i`` uses seed ``--seed + i``). The side that runs first alternates
from pair to pair, so a drift of the host over the session falls on
both sides alike. The end-to-end metrics and their direction come from
the parent's ``BENCHMARK.json``.

For each metric the summary gives each side's median and quartiles, the
pairs the change won (ties count for neither side), the median's change
against the metric's bound, and whether a gain may be claimed: the
change wins at least nine tenths of all pairs run, and the medians
differ in the better direction by more than the parent's interquartile
range. A run that exits non-zero or prints no result counts as failed,
with the ``failed`` query runs that the results report.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile) of ``xs``."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarise(pairs: list[tuple[dict | None, dict | None]], end_to_end: list[dict]) -> dict:
    """The A/B verdict over ``pairs`` of (parent result, change result).

    A result is the JSON line of one ``perfbench/run.py`` run, or None
    for a run that gave none. ``end_to_end`` is the ``end_to_end`` list
    of ``BENCHMARK.json``: name, better ("lower" or "higher"), bound."""
    n = len(pairs)
    out = {"pairs": n, "runs_failed": {}, "queries_failed": {}, "metrics": []}
    for side, i in (("parent", 0), ("change", 1)):
        results = [p[i] for p in pairs]
        out["runs_failed"][side] = sum(r is None for r in results)
        out["queries_failed"][side] = sum(r["failed"] for r in results if r is not None)
    for spec in end_to_end:
        name, sign = spec["name"], 1 if spec["better"] == "lower" else -1

        def value(r):
            return None if r is None else r["metrics"][name]["value"]

        vals = [(value(a), value(b)) for a, b in pairs]
        parent = [a for a, _ in vals if a is not None]
        change = [b for _, b in vals if b is not None]
        wins = sum(a is not None and b is not None and sign * (a - b) > 0 for a, b in vals)
        row = {"name": name, "better": spec["better"], "bound": spec["bound"], "wins": wins}
        if parent and change:
            p1, pm, p3 = quartiles(parent)
            c1, cm, c3 = quartiles(change)
            rel = (cm - pm) / pm if pm else float("nan")
            row.update(
                parent=(p1, pm, p3), change=(c1, cm, c3), rel=rel,
                within_bound=sign * rel <= spec["bound"],
                gain=wins >= 0.9 * n and sign * (pm - cm) > p3 - p1,
            )
        else:
            row.update(parent=None, change=None, rel=None, within_bound=False, gain=False)
        out["metrics"].append(row)
    return out


def format_summary(s: dict) -> list[str]:
    """The report lines of a :func:`summarise` result."""
    lines = [
        f"{s['pairs']} pairs; runs failed: parent {s['runs_failed']['parent']}, "
        f"change {s['runs_failed']['change']}; query runs failed: "
        f"parent {s['queries_failed']['parent']}, change {s['queries_failed']['change']}"
    ]
    for m in s["metrics"]:
        if m["parent"] is None:
            lines.append(f"{m['name']}: no result on one side")
            continue
        (p1, pm, p3), (c1, cm, c3) = m["parent"], m["change"]
        lines.append(
            f"{m['name']} ({m['better']} is better): parent {pm:.4g} [{p1:.4g}, {p3:.4g}], "
            f"change {cm:.4g} [{c1:.4g}, {c3:.4g}], median {m['rel']:+.1%} "
            f"(bound {m['bound']:.0%}: {'within' if m['within_bound'] else 'EXCEEDED'}), "
            f"change won {m['wins']}/{s['pairs']}, gain rule {'holds' if m['gain'] else 'does not hold'}"
        )
    return lines


def run_side(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One ``perfbench/run.py --trace 0`` run in ``checkout``: its JSON
    result, or None when it exits non-zero or prints no result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"# run failed in {checkout} (exit {proc.returncode}): {proc.stderr[-500:]}",
              file=sys.stderr)
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args(argv)
    dirs = {"parent": os.path.abspath(args.parent_dir), "change": os.path.abspath(args.change_dir)}
    with open(os.path.join(dirs["parent"], "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    pairs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {side: run_side(dirs[side], args.workload, seed, args.seconds) for side in order}
        pairs.append((got["parent"], got["change"]))
        shown = {
            side: r and {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            for side, r in got.items()
        }
        print(f"# pair {i + 1} seed {seed}, {order[0]} first: "
              f"parent {shown['parent']} change {shown['change']}", flush=True)
    for line in format_summary(summarise(pairs, end_to_end)):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
