"""Benchmark runner for xorq_spark.

    python3 perfbench/run.py --workload python_udf --seed 1 --seconds 20 --trace 0

Run from the repository root. Each call is one fresh process: it
generates its inputs, starts a Spark session on local[<cores>], runs one
workload (see `batch.py` and `serve.py`), checks every output and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics named in BENCHMARK.json,
`--trace 1` its per-layer metrics. The run record (host, versions,
per-pass host load, samples) and, for traced runs, the spans are written
to `perfbench/.out/`. All scratch state (cache root, Spark scratch dir,
warehouse, temp files, generated tables) lives in a temp dir under
`perfbench/.run/` that is deleted at exit. The exit code is 0 only when
every op ran and every output check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("python_udf", "serve")
DEFAULT_SF = 0.01


def process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# The kernel gives the process age in clock ticks (10 ms); it is taken
# once, as early as possible, and the rest of set-up on perf_counter.
# The host's busy and stolen CPU time are read with it, to take the
# stolen share out of setup_s as out of run_s.
AGE_AT_IMPORT, CLOCK_AT_IMPORT = process_age_s(), time.perf_counter()
from probes import host_busy_s, steal_share  # noqa: E402

HOST_AT_IMPORT = host_busy_s()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF,
                   help="scale factor of the generated tables")
    p.add_argument("--requests", type=int, default=None,
                   help="serve: requests per pass (default: the full mix)")
    p.add_argument("--write-fingerprints", action="store_true",
                   help="batch workloads: record result fingerprints "
                        "instead of checking them")
    return p.parse_args(argv)


def metric_names() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def driver_memory() -> str:
    """A quarter of host memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(max(total_kb // (4 * 1024 * 1024), 1), 8)}g"


def source_digest() -> str:
    """Content hash of the program's sources (the checkout may not be a
    git repository, so a commit id cannot always identify the code)."""
    import hashlib

    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "xorq_spark"))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def hygiene_env(work: str, cores: int) -> dict:
    """Point every writer at the run's temp dir and let Spark's Python
    workers import the program. Returns the session conf to add.

    Spark's scratch dir is set too, although the program would put it
    on /dev/shm for a local master: the benchmark writes only inside
    its checkout. At the benchmark's scale factor a steady pass shuffles
    less than 8 MiB, so where those files go matters little."""
    for sub in ("tmp", "cache", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["XORQ_SPARK_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ["XORQ_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    return {
        "spark.driver.memory": driver_memory(),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            # keep JIT compiler threads alive, so their CPU stays countable
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.reuse": "true",
    }


def fork_workers(spark, cores: int) -> None:
    """Start Spark's Python worker pool: one worker per core, each
    importing numpy, pandas and pyarrow. The JVM's own first-touch work
    (JIT, codegen) is left to the first pass."""

    def passthrough(it):
        import numpy  # noqa: F401

        yield from it

    spark.range(cores * 4).repartition(cores).selectExpr(
        "id", "cast(repeat('x', 64) as binary) as payload"
    ).mapInPandas(passthrough, "id long, payload binary").write.mode(
        "overwrite"
    ).format("noop").save()


class Context:
    """What a workload needs: the session, its inputs and the probes."""

    def __init__(self, args, work, spark, data_dir, tracer):
        from probes import Jvm

        self.args = args
        self.work = work
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.traced = bool(args.trace)
        self.jvm = Jvm(spark)

    def settle(self) -> None:
        """Between ops, outside the timed region: drop RDD-level pins
        (localCheckpoint) an op left behind, and collect garbage in the
        JVM and in Python, so that every op starts from the same heap
        state instead of paying for its predecessor's garbage."""
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
        self.spark._jvm.System.gc()
        gc.collect()


def stop_jvm(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits
    on EOF, taking Spark's Python workers with it) and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    import datagen
    import report
    from spans import NullTracer, Tracer

    cores = os.cpu_count() or 1
    conf = hygiene_env(work, cores)
    tracer = Tracer() if args.trace else NullTracer()
    layers = {}

    t = time.perf_counter()
    sys.path.insert(0, ROOT)
    from xorq_spark.session import connect

    if args.workload == "serve":
        import serve as workload
    else:
        import batch as workload
    workload.import_program()
    layers["session.import_s"] = time.perf_counter() - t

    t = time.perf_counter()
    data_dir = datagen.write(args.sf, os.path.join(work, "data"))
    layers["session.inputs_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark = connect(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    layers["session.connect_s"] = time.perf_counter() - t

    try:
        t = time.perf_counter()
        if args.workload == "python_udf":
            fork_workers(spark, cores)
        ctx = Context(args, work, spark, data_dir, tracer)
        state = workload.prepare(ctx)
        layers["session.warm_s"] = time.perf_counter() - t
        setup_s = AGE_AT_IMPORT + (time.perf_counter() - CLOCK_AT_IMPORT)
        setup_steal = steal_share(HOST_AT_IMPORT, host_busy_s())
        try:
            result = workload.measure(ctx, state)
        finally:
            workload.close(state)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": args.sf,
            "host_cores": os.cpu_count(),
            "master": f"local[{cores}]",
            "driver_memory": conf["spark.driver.memory"],
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "first_pass": result["first_pass"],
            "passes": result["passes"],
            "samples": result["samples"],
            "errors": result["errors"][:20],
        }
    finally:
        stop_jvm(spark)
    metrics = dict(result["layers"])
    metrics.update(result["metrics"])
    metrics.update({k: (v, "s") for k, v in layers.items()})
    # the speed probe is taken in the timed window; its median there
    # stands for the host's speed during set-up, a minute earlier at most
    probe_s = result["metrics"]["host.probe_ms"][0] / 1000.0
    metrics["raw.setup_s"] = (setup_s, "s")
    metrics["setup_s"] = (report.at_reference(setup_s, setup_steal, probe_s), "s")
    return {"record": record, "metrics": metrics, "tracer": tracer,
            "attempted": result["attempted"], "failed": result["failed"]}


def main() -> int:
    args = parse_args(sys.argv[1:])
    if not os.path.isfile(os.path.join(ROOT, "xorq_spark", "__init__.py")):
        print(f"perfbench: no xorq_spark package under {ROOT}; run it from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    names = metric_names()["per_layer" if args.trace else "end_to_end"]
    # Spark and py4j may write to fd 1; keep stdout for the result line.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    run_root = os.path.join(HERE, ".run")
    os.makedirs(run_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=run_root)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass  # another run still uses it

    record = out["record"]
    metrics = {
        k: {"value": float(v), "unit": unit}
        for k, (v, unit) in sorted(out["metrics"].items()) if k in names
    }
    missing = names - set(metrics)
    if missing:
        record["errors"].append(f"metrics not produced: {sorted(missing)}")
    record["metrics"] = {k: (float(v), u) for k, (v, u) in out["metrics"].items()}
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".record.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        out["tracer"].dump(os.path.join(out_dir, stem + ".spans.json"))
    print("run record: " + json.dumps(record), file=sys.stderr)
    correct = out["failed"] == 0 and not missing
    line = {
        "correct": correct,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }
    result_out.write(json.dumps(line) + "\n")
    result_out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
