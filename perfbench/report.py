"""Per-layer metric names, units and the arithmetic that derives them
from spans and Spark job intervals."""

from __future__ import annotations

import statistics

import numpy as np

from probes import union_s

# Every per-layer metric of a traced run, with its unit. A layer a
# workload does not exercise reports 0 (flight.* on python_udf, build.*
# on serve). BENCHMARK.json lists the same names.
# End-to-end candidates whose spread over ten seeds came near or past
# their bound (see baseline.json): reported among the per-layer metrics.
DEMOTED = ("first_pass_s", "cpu_s", "req_p50_ms", "req_p90_ms", "peak_rss_mb")

# The unscaled times behind setup_s and run_s and the two host readings
# that scale run_s.
RAW = ("raw.setup_s", "raw.run_s", "host.probe_ms", "host.steal_pct")

# What `probes.speed_probe_s` takes on an idle 4-core Xeon (see
# `at_reference`).
REF_PROBE_S = 0.020

# Timed passes a run makes at least, so that each query's median is
# taken over three samples or more.
MIN_PASSES = 3

LAYERS = {
    "first_pass_s": "s",
    "req_p50_ms": "ms",
    "req_p90_ms": "ms",
    "peak_rss_mb": "MiB",
    "cpu_s": "CPU-s",
    "raw.setup_s": "s",
    "raw.run_s": "s",
    "host.probe_ms": "ms",
    "host.steal_pct": "%",
    "session.import_s": "s",
    "session.inputs_s": "s",
    "session.connect_s": "s",
    "session.warm_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "exec.job_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "CPU-s",
    "exec.gc_s": "s",
    "exec.input_mb": "MiB",
    "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB",
    "exec.spill_mb": "MiB",
    "driver.gap_s": "s",
    "driver.py_cpu_s": "CPU-s",
    "jvm.cpu_s": "CPU-s",
    "jvm.jit_cpu_s": "CPU-s",
    "jvm.jit_ms": "ms",
    "jvm.codegen_compiles": "count",
    "pyworker.cpu_s": "CPU-s",
    "pyworker.spawns": "count",
    "pyworker.bytes_sent_mb": "MiB",
    "pyworker.bytes_recv_mb": "MiB",
    "cache.lookups": "count",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.hit_ratio": "ratio",
    "cache.hit_ms": "ms",
    "cache.miss_ms": "ms",
    "cache.write_mb": "MiB",
    "tokenize.ms": "ms",
    "flight.requests": "count",
    "flight.exchange_ms": "ms",
    "flight.get_ms": "ms",
    "flight.jobs_per_req": "ratio",
    "flight.bytes_in_mb": "MiB",
    "flight.bytes_out_mb": "MiB",
    "interop.duckdb_ms": "ms",
    "interop.arrow_mb": "MiB",
    "host.ext_cpu_s": "CPU-s",
    "host.load1": "load",
    "error_rate": "ratio",
    "trace.run_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.unaccounted_pct": "%",
}

# Op-level keys produced by op_layers, summed into a steady pass.
_STEADY = {
    "build.s": "build_s",
    "build.jobs": "build_jobs",
    "plan.s": "plan_s",
    "exec.job_s": "exec_s",
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.cpu_s": "exec_cpu_s",
    "exec.gc_s": "exec_gc_s",
    "exec.input_mb": "input_mb",
    "exec.shuffle_read_mb": "shuffle_read_mb",
    "exec.shuffle_write_mb": "shuffle_write_mb",
    "exec.spill_mb": "spill_mb",
    "driver.gap_s": "gap_s",
    "jvm.jit_ms": "jit_ms",
    "jvm.codegen_compiles": "codegen",
}


def at_reference(seconds: float, steal_frac: float, probe_s: float) -> float:
    """A wall time without the share of host CPU time the hypervisor
    stole during it, at the reference core speed, i.e. times
    REF_PROBE_S / (the speed probe's time). On a host shared with other
    virtual machines both drift by tens of percent within a minute;
    neither depends on the program."""
    return seconds * (1.0 - steal_frac) * REF_PROBE_S / probe_s


def scaled(rec: dict) -> None:
    """Add `wall_ref`, the op's wall at the reference, with the speed
    probe taken just before the op."""
    rec["wall_ref"] = at_reference(rec["wall"], rec["steal_frac"], rec["probe"])


def zero_layers() -> dict:
    return {name: (0.0, unit) for name, unit in LAYERS.items()}


def median_ms(seconds) -> float:
    values = list(seconds)
    return statistics.median(values) * 1000.0 if values else 0.0


def percentile(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def _dur(span) -> float:
    return span["end"] - span["start"]


def _clipped(jobs, span) -> float:
    return union_s([(a, b) for a, b, _ in jobs], span["start"], span["end"])


def exec_counters(jobs) -> dict:
    stages = [s for _, _, ss in jobs for s in ss]
    out = {"jobs": len(jobs), "stages": len(stages)}
    for key in ("tasks", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        out[key] = sum(s[key] for s in stages)
    out["exec_cpu_s"] = out.pop("cpu_s")
    out["exec_gc_s"] = out.pop("gc_s")
    return out


def op_layers(s_op, s_build, s_plan, jobs) -> dict:
    """Split one op's wall into self times: build and plan spans minus
    the Spark jobs inside them, the union of job intervals, and the
    driver gap that is left."""
    build = _dur(s_build) - _clipped(jobs, s_build)
    plan = _dur(s_plan) - _clipped(jobs, s_plan)
    exec_s = _clipped(jobs, s_op)
    out = exec_counters(jobs)
    out.update(
        build_s=build,
        build_jobs=sum(1 for a, _, _ in jobs if s_build["start"] <= a <= s_build["end"]),
        plan_s=plan,
        exec_s=exec_s,
        gap_s=_dur(s_op) - build - plan - exec_s,
    )
    return out


def _spans_s(tracer, names, t0: float, t1: float) -> float:
    return sum(_dur(s) for s in tracer.spans
               if s["name"] in names and s["start"] >= t0 and s["end"] <= t1)


def trace_accounting(tracer, t0: float, t1: float, op_sum: float) -> dict:
    """How much of the window [t0, t1] the ops plus the benchmark's own
    spans (probes, bookkeeping, hygiene) explain."""
    own = _spans_s(tracer, ("probe", "bookkeeping", "hygiene"), t0, t1)
    wall = t1 - t0
    return {
        "trace.bookkeeping_s": (_spans_s(tracer, ("bookkeeping",), t0, t1), "s"),
        "trace.unaccounted_pct": (100.0 * (wall - op_sum - own) / wall, "%"),
    }


def steady_layers(steady) -> dict:
    """Per-layer values of one steady pass; `steady(key)` sums the
    per-op medians of an op-level key."""
    return {name: (steady(key), LAYERS[name]) for name, key in _STEADY.items()}
