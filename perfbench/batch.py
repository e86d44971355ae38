"""Batch workload `python_udf`.

It runs a fixed list of catalog queries (`xorq_spark.queries.QUERIES`)
over the generated tables, in an order drawn from the seed:

1. first pass, right after set-up: every query once, its result
   collected as Arrow and fingerprinted (row count plus an
   order-insensitive hash of the normalized rows), then compared with
   the fingerprints committed in `fingerprints.json`;
2. two warm passes with the noop sink, not timed: the JVM is still
   compiling, and each of the two passes after the first runs 10-20%
   slower than the ones after them;
3. timed window: whole passes with the noop sink (full execution of
   every output column, nothing collected) until `--seconds` have
   passed and at least three passes ran.

A steady pass is the sum over queries of each query's median in the
window; counters are taken the same way. `run_s` takes each op's wall
without stolen time and at a reference core speed (`report.scaled`).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time

from probes import Sampler, speed_probe_s
import report

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# An Arrow-batched image stage (progressive JPEG decode, dHash pairs), an
# audio codec stage, a pandas-UDF text stage and the bootstrap Arrow
# stage: Python workers and Arrow serialization carry the work. The list
# is sized so that a pass takes about 4 s on 4 cores and a run (set-up,
# cold pass, the timed window) fits the benchmark's time budget; the
# catalog's other Python-stage queries are left out for that reason.
PYTHON_UDF = [
    "mm_decode_jpeg_progressive",
    "mm_image_dhash_pairs",
    "mm_decode_flac_stats",
    "text_unicode_normalize",
    "agg_bootstrap_ci",
]


def import_program() -> None:
    import xorq_spark.queries  # noqa: F401  (registers the catalog)


def prepare(ctx) -> dict:
    from xorq_spark.queries import QUERIES

    order = list(PYTHON_UDF)
    random.Random(ctx.args.seed).shuffle(order)
    return {"order": order, "queries": QUERIES}


def close(state) -> None:
    pass


# -- output check -----------------------------------------------------------
def _norm(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return format(v + 0.0, ".9g")  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def fingerprint(table) -> dict:
    """Row count plus a hash of the sorted, normalized rows, with
    columns taken in name order."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("|".join(_norm(col[i]) for col in data) for i in range(table.num_rows))
    h = hashlib.sha256("\n".join([",".join(cols)] + rows).encode()).hexdigest()
    return {"rows": table.num_rows, "hash": h[:32]}


def load_fingerprints() -> dict:
    if not os.path.exists(FINGERPRINTS):
        return {}
    with open(FINGERPRINTS) as f:
        return json.load(f)


def save_fingerprints(sf_key: str, got: dict) -> None:
    allfp = load_fingerprints()
    allfp.setdefault(sf_key, {}).update(got)
    with open(FINGERPRINTS, "w") as f:
        json.dump({k: dict(sorted(v.items())) for k, v in sorted(allfp.items())}, f, indent=1)
        f.write("\n")


# -- one op -----------------------------------------------------------------
def run_op(ctx, state, name: str, op: int, collect: bool) -> dict:
    """Build one query, run it, and return its measurements. In a traced
    run the Catalyst plan is forced before the action and the op's Spark
    jobs are read from the status store afterwards."""
    tr, jvm = ctx.tracer, ctx.jvm
    rec = {"name": name, "error": None, "table": None}
    with tr.span("probe", op):
        rec["probe"] = speed_probe_s()
        sampler = Sampler()
        if ctx.traced:
            j0 = jvm.next_job_id()
            c0 = (jvm.gc_ms(), jvm.jit_ms(), jvm.codegen_compiles())
    t0 = time.perf_counter()
    try:
        with tr.span("op", op) as s_op:
            with tr.span("build", op) as s_build:
                df = state["queries"][name](ctx.spark, ctx.data_dir)
            if ctx.traced:
                with tr.span("plan", op) as s_plan:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("action", op):
                if collect:
                    rec["table"] = df.toArrow()
                else:
                    df.write.mode("overwrite").format("noop").save()
    except Exception as e:  # counted in error_rate
        rec["error"] = f"{name}: {type(e).__name__}: {str(e)[:300]}"
    rec["wall"] = time.perf_counter() - t0
    with tr.span("probe", op):
        rec.update(sampler.op_sample())
    report.scaled(rec)
    if ctx.traced and rec["error"] is None:
        with tr.span("bookkeeping", op):
            jvm.drain()
            jobs = jvm.jobs(j0, jvm.next_job_id())
            c1 = (jvm.gc_ms(), jvm.jit_ms(), jvm.codegen_compiles())
        rec.update(report.op_layers(s_op, s_build, s_plan, jobs))
        rec["op_s"] = s_op["end"] - s_op["start"]
        rec.update(gc_s=(c1[0] - c0[0]) / 1000.0, jit_ms=c1[1] - c0[1],
                   codegen=c1[2] - c0[2])
    with tr.span("hygiene", op):
        ctx.settle()
    return rec


def run_pass(ctx, state, first_op: int, collect: bool = False) -> list:
    """Every query once, in the run's order."""
    return [run_op(ctx, state, name, first_op + i, collect)
            for i, name in enumerate(state["order"])]


def measure(ctx, state) -> dict:
    order, args = state["order"], ctx.args
    sf_key = format(args.sf, "g")
    expected = load_fingerprints().get(sf_key, {})

    # first pass: cold, collected and checked
    first, got = run_pass(ctx, state, 0, collect=True), {}
    for rec in first:
        name = rec["name"]
        if rec["error"] is None:
            got[name] = fingerprint(rec.pop("table"))
            if not args.write_fingerprints and expected.get(name) != got[name]:
                rec["error"] = (f"{name}: fingerprint {got[name]} != committed "
                                f"{expected.get(name)}")
    if args.write_fingerprints:
        save_fingerprints(sf_key, got)
    warm = [r for i in (1, 2) for r in run_pass(ctx, state, len(order) * i)]

    # timed window: whole passes until --seconds have passed
    passes = []
    window_t0 = time.time()
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(passes) < report.MIN_PASSES:
        with ctx.tracer.span("probe"):
            pass_sampler = Sampler()
        recs = run_pass(ctx, state, len(order) * (len(passes) + 3))
        with ctx.tracer.span("probe"):
            d = pass_sampler.delta()
        passes.append({"recs": recs, "host.ext_cpu_s": d["ext_cpu"],
                       "host.load1": os.getloadavg()[0]})
    window_t1 = time.time()

    ran = first + warm + [r for p in passes for r in p["recs"]]
    errors = [r["error"] for r in ran if r["error"]]
    attempted, failed = len(ran), len(errors)
    samples = {name: [r for p in passes for r in p["recs"]
                      if r["name"] == name and r["error"] is None] for name in order}

    def steady(key):
        """Sum over queries of the per-query median of `key`: one steady
        pass, each query at its typical speed."""
        return sum(statistics.median(r[key] for r in rs) for rs in samples.values() if rs)

    all_recs = [r for rs in samples.values() for r in rs]
    lat_ms = [r["wall"] * 1000.0 for r in all_recs]
    metrics = {
        "run_s": (steady("wall_ref"), "s"),
        "cpu_s": (steady("cpu"), "CPU-s"),
        "raw.run_s": (steady("wall"), "s"),
        "host.probe_ms": (report.median_ms(r["probe"] for r in all_recs), "ms"),
        "host.steal_pct": (100.0 * statistics.median(r["steal_frac"] for r in all_recs), "%"),
        "first_pass_s": (sum(r["wall"] for r in first), "s"),
        "peak_rss_mb": (max((r["rss_mb"] for r in all_recs), default=0.0), "MiB"),
        "req_p50_ms": (report.percentile(lat_ms, 50), "ms"),
        "req_p90_ms": (report.percentile(lat_ms, 90), "ms"),
    }
    layers = report.zero_layers()
    layers.update({
        "driver.py_cpu_s": (steady("driver_cpu"), "CPU-s"),
        "jvm.cpu_s": (steady("jvm_cpu"), "CPU-s"),
        "jvm.jit_cpu_s": (steady("jit_cpu"), "CPU-s"),
        "pyworker.cpu_s": (steady("pyworker_cpu"), "CPU-s"),
        "pyworker.spawns": (sum(r["spawns"] for r in all_recs), "count"),
        "pyworker.bytes_sent_mb": (steady("worker_read") / (1 << 20), "MiB"),
        "pyworker.bytes_recv_mb": (steady("worker_written") / (1 << 20), "MiB"),
        "host.ext_cpu_s": (steady("ext_cpu"), "CPU-s"),
        "host.load1": (os.getloadavg()[0], "load"),
        "error_rate": (failed / attempted, "ratio"),
    })
    if ctx.traced:
        layers.update(report.steady_layers(steady))
        layers["trace.run_s"] = (steady("wall_ref"), "s")
        op_sum = sum(r["op_s"] for r in all_recs)
        layers.update(report.trace_accounting(ctx.tracer, window_t0, window_t1, op_sum))
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "first_pass": {r["name"]: r["wall"] for r in first},
        "passes": [{"wall_s": sum(r["wall"] for r in p["recs"]),
                    "host.ext_cpu_s": p["host.ext_cpu_s"], "host.load1": p["host.load1"]}
                   for p in passes],
        "samples": {name: [r["wall"] for r in rs] for name, rs in samples.items()},
    }
