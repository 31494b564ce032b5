#!/usr/bin/env python3
"""Steadiness report: run the benchmark over many seeds and measure the
run-to-run spread of every metric, then check that two traced runs of
one seed give identical Spark counts.

    python3 perfbench/steady.py --seeds 10 --out perfbench/STEADINESS.json
    python3 perfbench/steady.py --workloads curate --seeds 5 --no-trace

The spread of a metric is the distance between the first and third
quartiles of its values (`statistics.quantiles(values, n=4)`) as a
share of their median — the statistic the bounds in BENCHMARK.json are
set against. Runs are sequential, never two at once.
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
# the exact per-layer counts; table sizes (`io.*_bytes`) are not among
# them: row order after a shuffle, and the lineage table's wall-clock
# text, move them by a few bytes from run to run
COUNT_SUFFIXES = ("_jobs", ".jobs", "_stages", ".stages", "_tasks", ".tasks",
                  "_files", ".pairs")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple:
    """(named line, result line, wall seconds) of one benchmark run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    t0 = time.perf_counter()
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def spread(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)
            if statistics.median(values) else None,
            "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--no-trace", action="store_true",
                   help="skip the two traced runs per workload")
    p.add_argument("--out", help="write the report here as JSON")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in args.workloads:
        e2e: dict = {}
        named: dict = {}
        walls, failed = [], 0
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            info, res, wall = run_once(w, seed, bench["run_seconds"], 0)
            walls.append(wall)
            failed += res["failed"] + (not res["correct"])
            for k, v in res["metrics"].items():
                e2e.setdefault(k, []).append(v["value"])
            for k, v in info["named"].items():
                named.setdefault(f"{k} [{v['unit']}]", []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s wall, "
                  + ", ".join(f"{k}={v['value']:.4g}"
                              for k, v in res["metrics"].items()), flush=True)
        entry = {"wall_s": spread(walls), "failed": failed,
                 "end_to_end": {k: spread(v) for k, v in e2e.items()},
                 "named": {k: spread(v) for k, v in named.items()}}
        for k, s in entry["end_to_end"].items():
            s["bound"] = bounds.get(k)
            s["within_third_of_bound"] = (s["spread"] is not None
                                          and s["spread"] <= bounds[k] / 3)
            if k == "setup_s":
                # the benchmark contract gates setup_s on the shift of
                # its median between two sets of runs, not on its spread
                s["spread_gated"] = False
        if not args.no_trace:
            seed = args.first_seed
            runs = [run_once(w, seed, bench["run_seconds"], 1)
                    for _ in range(2)]
            traced = [res["metrics"] for _, res, _ in runs]
            # traced against untraced throughput: the untraced median is
            # over every seed, the traced figure is of one seed
            untraced = statistics.median(named["docs_per_s [1/s]"])
            both = {k: [t[k]["value"] for t in traced] for k in traced[0]}
            counts = {k: v for k, v in both.items()
                      if k.endswith(COUNT_SUFFIXES)}
            entry["traced"] = {
                "seed": seed,
                "counts_identical": all(a == b for a, b in counts.values()),
                "counts": counts,
                "sizes": {k: v for k, v in both.items()
                          if k.startswith("io.") and k not in counts},
                "overhead_share": [t["trace.overhead_share"]["value"]
                                   for t in traced],
                "docs_per_s_loss_vs_untraced": [
                    1 - info["named"]["docs_per_s"]["value"] / untraced
                    for info, _, _ in runs]}
            print(f"{w} traced x2: counts identical = "
                  f"{entry['traced']['counts_identical']}", flush=True)
        report["workloads"][w] = entry
        for k, s in entry["end_to_end"].items():
            print(f"  {w:7s} {k:18s} median {s['median']:.4g}  "
                  f"spread {s['spread']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
