"""Interleaved subset bench for A/B optimization decisions.

Usage: python tools/ab_bench.py <sf_dir> <query>[,<query>...] [passes]

Runs the named queries with the bench's noop-sink methodology (one
untimed warm pass, then `passes` timed passes, default 4) and prints a
per-pass seconds table plus min/median. The host swings 1x-4x on a
minutes timescale, so cross-window comparisons are invalid. To sample
two variants in the same host window, run them alternately inside ONE
invocation:

    python tools/ab_bench.py <sf_dir> <query> [passes] --ab=NAME:old,new

With --ab, each timed pass alternates the env var NAME between the two
values (old first). NAME is a temporary flag read at query-build time
while a change is being measured; such a flag is scaffolding and is
never committed. The committed way to measure a change is interleaved
runs of the parent commit and the change, each from its own checkout.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2].split(",")
    passes = 4
    ab = None
    for a in sys.argv[3:]:
        if a.startswith("--ab"):
            spec = a.split("=", 1)[1]
            var, vals = spec.split(":", 1)
            ab = (var, vals.split(","))
        else:
            passes = int(a)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("XORQ_SPARK_SHUFFLE_PARTITIONS", str(max(int(cpus), 32)))

    from xorq_spark.session import connect
    from xorq_spark.queries import QUERIES

    spark = connect(
        master=f"local[{cpus}]",
        app_name="ab_bench",
        extra_conf={"spark.driver.memory": "24g",
                    "spark.python.worker.reuse": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    for n in names:
        if n not in QUERIES:
            print(f"unknown query: {n}", file=sys.stderr)
            return 2

    def unpersist():
        try:
            it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
            while it.hasNext():
                it.next()._2().unpersist(False)
        except Exception:
            pass

    def run_one(name):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        unpersist()
        return dt

    def settle():
        spark.catalog.clearCache()
        unpersist()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    variants = ab[1] if ab else [None]
    # warm: every (query, variant) combination pays codegen once
    for v in variants:
        if ab:
            os.environ[ab[0]] = v
        for n in names:
            run_one(n)
    settle()

    res = {}  # (variant, name) -> [sec]
    for p in range(passes):
        for v in variants:
            if ab:
                os.environ[ab[0]] = v
            for n in names:
                dt = run_one(n)
                res.setdefault((v, n), []).append(round(dt, 3))
        settle()

    print()
    for (v, n), secs in res.items():
        tag = f"[{ab[0]}={v}] " if ab else ""
        m = min(secs)
        med = sorted(secs)[len(secs) // 2]
        print(f"{tag}{n:36} min={m:6.3f} med={med:6.3f} passes={secs}")
    for n in names:
        if ab and len(variants) == 2:
            a = min(res[(variants[0], n)])
            b = min(res[(variants[1], n)])
            print(f"A/B {n}: {variants[0]}={a:.3f} {variants[1]}={b:.3f} "
                  f"ratio={b / a if a else float('nan'):.3f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
