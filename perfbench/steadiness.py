"""Steadiness runs: the benchmark's baseline.

    python3 perfbench/steadiness.py [--workload W ...]

Runs each workload ten times untraced, each with another seed, and
twice traced. For every end-to-end metric it records the
median, the quartiles (`statistics.quantiles(values, n=4)`) and the
spread (interquartile distance as a share of the median), the same for
the metrics demoted from end-to-end to per-layer and for the unscaled
times and the speed probe, read from the untraced runs' records; for every per-layer metric the median over the traced
runs; and the tracing overhead (traced minus untraced `run_s`). Writes `baseline.json` beside
this file and prints one line per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
RUNS, TRACED = 10, 2
SEED_BASE = 1000  # untraced runs use seeds 1000.., traced runs 2000..

from report import DEMOTED, RAW  # noqa: E402
from run import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    with open(os.path.join(HERE, ".out", f"{workload}-seed{seed}-trace{trace}.record.json")) as f:
        result["record"] = json.load(f)["metrics"]
    return result


def summary(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", choices=WORKLOADS)
    p.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {"run_seconds": seconds, "runs": RUNS, "traced_runs": TRACED, "workloads": {}}
    for workload in args.workload or WORKLOADS:
        plain = [run_once(workload, SEED_BASE + i, seconds, 0) for i in range(RUNS)]
        traced = [run_once(workload, SEED_BASE + 1000 + i, seconds, 1) for i in range(TRACED)]
        e2e = {name: summary([r["metrics"][name]["value"] for r in plain]) for name in bounds}
        demoted = {name: summary([r["record"][name][0] for r in plain]) for name in DEMOTED + RAW}
        layers = {name: statistics.median(r["metrics"][name]["value"] for r in traced)
                  for name in traced[0]["metrics"]}
        entry = {
            "end_to_end": e2e,
            "demoted": demoted,
            "per_layer": layers,
            "run_wall_s": summary([r["wall_s"] for r in plain + traced]),
            "trace_overhead_s": layers["trace.run_s"] - e2e["run_s"]["median"],
        }
        out["workloads"][workload] = entry
        for name, s in e2e.items():
            flag = "" if s["spread"] < bounds[name] / 3 else "  (spread >= bound/3)"
            print(f"{workload:10s} {name:12s} median {s['median']:10.3f}  "
                  f"spread {s['spread']:.3f}  bound {bounds[name]}{flag}", flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
