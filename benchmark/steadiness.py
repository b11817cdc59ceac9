"""Steadiness check: run each workload several times on the same code,
each run with another seed, and print every end-to-end metric's spread
(inter-quartile distance over the median) against its bound.

    python3 benchmark/steadiness.py --runs 10 [--first-seed 1] [--json out.json]

Bounds, workloads and run length come from BENCHMARK.json at the
checkout root. A spread under a third of the bound is steady; one over
the bound means the metric cannot tell a regression from noise. With
``--json`` every run's metrics are written out, so two sets can be
compared with ``--compare a.json b.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    notes = [line for line in proc.stderr.splitlines() if "latency samples" in line]
    print(f"  {workload} seed {seed}: correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']} "
          f"{notes[-1].split('] ', 1)[-1] if notes else ''}", flush=True)
    return result


def report(spec: dict, runs: dict[str, list[dict]]) -> bool:
    """Print spreads; True when every spread is within its bound."""
    ok = True
    print(f"{'workload':16} {'metric':16} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
    for workload, results in runs.items():
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in results]
            s = stats.spread(values)
            verdict = ("steady" if s < m["bound"] / 3 else
                       "within bound" if s <= m["bound"] else "TOO NOISY")
            ok &= s <= m["bound"]
            print(f"{workload:16} {m['name']:16} {statistics.median(values):12.4f} "
                  f"{s:8.4f} {m['bound']:6.3f}  {verdict}")
        bad = [r for r in results if not r["correct"] or r["failed"]]
        ok &= not bad
        if bad:
            print(f"{workload}: {len(bad)} runs incorrect or with failed ops")
    return ok


def compare(spec: dict, first: dict, second: dict) -> bool:
    """Second set's median against the first's, per metric and workload."""
    ok = True
    for workload in first:
        for m in spec["end_to_end"]:
            a, b = (statistics.median(r["metrics"][m["name"]]["value"] for r in s[workload])
                    for s in (first, second))
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            ok &= worse <= m["bound"]
            print(f"{workload:16} {m['name']:16} {a:12.4f} {b:12.4f} worse by {worse:+.4f} "
                  f"(bound {m['bound']})")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--json", help="write every run's result here")
    p.add_argument("--compare", nargs=2, metavar="JSON", help="compare two saved sets")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as fh:
                sets.append(json.load(fh))
        return 0 if compare(spec, *sets) else 1
    runs = {}
    for workload in (w["name"] for w in spec["workloads"]):
        runs[workload] = [run_once(spec, workload, args.first_seed + i) for i in range(args.runs)]
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 0 if report(spec, runs) else 1


if __name__ == "__main__":
    sys.exit(main())
