#!/usr/bin/env python3
"""Steadiness self-check for the benchmark in ``BENCHMARK.json``.

Run from the repository root::

    python3 perfbench/selfcheck.py --runs 10 [--sets 2] [--trace-runs 2]
                                    [--workloads bulk_replay,tail_upsert] [--first-seed 1]

Runs each workload ``--runs`` times, one seed per run, exactly as
``BENCHMARK.json``'s command would, and prints for every end-to-end metric the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median`` against the metric's bound. A spread above a third of
the bound is flagged ``WIDE``, above the bound ``FAIL``.

``--sets 2`` runs a second set of the same seeds, interleaved with the first
(seed i of set 1, then seed i of set 2), and prints the shift of each
metric's median from set 1 to set 2 against its bound: two sets of runs of the
same code must agree within the bounds, or ``FAIL`` is printed.
``--trace-runs`` adds traced runs and reports the tracing overhead as the
traced median minus the untraced median (set 1) of each end-to-end metric.
Exits 1 if any metric fails. Raw results go to ``.perfbench/selfcheck-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workloads", default=None, help="comma-separated (default: all)")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw: dict = {"untraced": {}, "traced": {}}
    ok = True
    for wl in names:
        sets: list[list[dict]] = [[] for _ in range(args.sets)]
        walls = []
        for i in range(args.runs):
            for k in range(args.sets):
                res, wall = run_once(bench, wl, args.first_seed + i, 0)
                sets[k].append(res)
                walls.append(wall)
                print(f"{wl} set {k + 1} seed {args.first_seed + i}: {wall:.1f} s, "
                      f"correct={res['correct']}", flush=True)
        raw["untraced"][wl] = {"sets": sets, "walls": walls}
        for k, runs in enumerate(sets):
            print(f"\n{wl} set {k + 1}: {len(runs)} runs, failed ops "
                  f"{sum(r['failed'] for r in runs)}, incorrect runs "
                  f"{sum(not r['correct'] for r in runs)}")
            ok &= all(r["correct"] for r in runs)
            print(f"{'metric':24s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s} {'bound':>6s}")
            for name, bound in bounds.items():
                med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
                flag = "FAIL" if sp > bound else "WIDE" if sp > bound / 3 else "ok"
                ok &= flag != "FAIL"
                print(f"{name:24s} {med:14.4f} {q1:14.4f} {q3:14.4f} {sp:8.3f} {bound:6.2f} {flag}")
        print(f"{wl}: run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        if args.sets == 2:
            print(f"{wl}: set 2 median vs set 1 median")
            for name, bound in bounds.items():
                a, b = (statistics.median(r["metrics"][name]["value"] for r in runs)
                        for runs in sets)
                shift = (b - a) / a
                flag = "FAIL" if abs(shift) > bound else "ok"
                ok &= flag == "ok"
                print(f"  {name:24s} {a:14.4f} {b:14.4f} {shift:+8.3f} {bound:6.2f} {flag}")
        if args.trace_runs:
            traced = [run_once(bench, wl, args.first_seed + i, 1)[0]
                      for i in range(args.trace_runs)]
            raw["traced"][wl] = traced
            print(f"tracing overhead on {wl} (traced median - untraced median):")
            for name in bounds:
                t = statistics.median(r["metrics"][f"traced.{name}"]["value"] for r in traced)
                u = statistics.median(r["metrics"][name]["value"] for r in sets[0])
                print(f"  {name:24s} {t - u:+14.4f} ({(t - u) / u:+.1%})")
        print(flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench", f"selfcheck-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(raw, f)
    print(f"raw results: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
