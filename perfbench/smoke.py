"""Smoke check of the benchmark at sf0.001 with a handful of requests.

    python3 perfbench/smoke.py [--workload W ...]

For each workload, runs `run.py` untraced and traced and asserts that
the run exits 0, that its outputs were checked correct, that the last
stdout line carries every metric BENCHMARK.json names with its unit,
and that the traced self times account for the window.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from report import LAYERS  # noqa: E402
from run import WORKLOADS  # noqa: E402


def check(workload: str, trace: int, spec: dict) -> list:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--requests", "4"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    problems = []
    if p.returncode != 0:
        problems.append(f"exit code {p.returncode}: {p.stderr[-1500:]}")
    lines = p.stdout.strip().splitlines()
    if not lines:
        return problems + ["no result line on stdout"]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("attempted", 0) < 1:
        problems.append(f"correct={result.get('correct')} attempted={result.get('attempted')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: missing "
                        f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"units {[k for k in want if k in got and got[k] != want[k]]}")
    if trace and abs(result["metrics"]["trace.unaccounted_pct"]["value"]) > 5.0:
        problems.append("traced self times leave more than 5% of the window unaccounted")
    return problems


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", choices=WORKLOADS)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    if {m["name"]: m["unit"] for m in spec["per_layer"]} != LAYERS:
        print("BENCHMARK.json per_layer does not match report.LAYERS")
        failures += 1
    for workload in args.workload or WORKLOADS:
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for msg in problems:
                print("   ", msg)
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
