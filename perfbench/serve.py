"""Serve workload: a closed loop with one client and one connection
against an in-process Arrow Flight server, the content-hash Parquet
cache and DuckDB interop.

A pass is a seeded sequence of requests, replayed from an empty cache
root so that every pass has the same hits and misses:

- `cache_lookup` (6 per pass): read_parquet(lineitem) -> filter on a
  price threshold -> group_by/aggregate -> .cache() -> to_pyarrow().
  Three thresholds are drawn Zipf-like from 32 values and used 3, 2 and
  1 times: the first use of each is a miss (tokenize, compute, publish
  Parquet), repeats are hits (tokenize, stat, read).
- `flight_exchange` (3): a seeded slice of 1k, 10k and 50k lineitem
  rows through an unbound aggregate served by flight_serve.
- `flight_get` (1): a bound orders-customer join aggregate, by name.
- `to_duckdb` (1): into_backend of an orders projection into DuckDB,
  then a DuckDB aggregate over it.

A cold first pass and an untimed warm pass (the JVM is still compiling:
the pass after the first runs about 15% slower than the ones after it)
come before the timed window, which runs whole passes until `--seconds`
have passed and at least three passes ran. A steady pass is the sum
over the sequence's requests of each request's median in the window;
`run_s` takes each request's wall without stolen time and at a
reference core speed (`report.scaled`). Every response is checked
against DuckDB running the same aggregate on the same input.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

from probes import Sampler, speed_probe_s, union_s
import report

THRESHOLDS = [3000.0 * k for k in range(32)]
CACHE_USES = [3, 2, 1]
EXCHANGE_ROWS = [1_000, 10_000, 50_000]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_GET, N_DUCKDB = 1, 1

EXCHANGE_SCHEMA = {
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_quantity": "float64",
    "l_extendedprice": "float64",
    "l_discount": "float64",
}


def import_program() -> None:
    import xorq_spark.flight  # noqa: F401
    import xorq_spark.interop  # noqa: F401


def request_sequence(seed: int, n_lineitem: int, limit=None) -> list:
    """The requests of one pass, as (kind, parameter) tuples."""
    rng = np.random.default_rng(seed)
    zipf = 1.0 / np.arange(1, len(THRESHOLDS) + 1) ** 1.1
    picks = rng.choice(len(THRESHOLDS), len(CACHE_USES), replace=False, p=zipf / zipf.sum())
    reqs = [("cache_lookup", THRESHOLDS[k]) for k, n in zip(picks, CACHE_USES) for _ in range(n)]
    for rows in EXCHANGE_ROWS:
        rows = min(rows, n_lineitem)
        reqs.append(("flight_exchange", (int(rng.integers(0, n_lineitem - rows + 1)), rows)))
    reqs += [("flight_get", None)] * N_GET
    for k in rng.choice(len(PRIORITIES), N_DUCKDB, replace=False):
        reqs.append(("to_duckdb", PRIORITIES[k]))
    order = rng.permutation(len(reqs))
    seq = [reqs[i] for i in order]
    return seq[:limit] if limit else seq


def prepare(ctx) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    import xorq_spark as xo
    from xorq_spark import _
    from xorq_spark.flight import FlightClient, flight_serve

    path = {t: os.path.join(ctx.data_dir, f"{t}.parquet") for t in ("lineitem", "orders", "customer")}
    lineitem = pq.read_table(path["lineitem"], columns=list(EXCHANGE_SCHEMA))
    template = xo.table(EXCHANGE_SCHEMA, "input")
    exchange_expr = (
        template.filter(_.l_discount < 0.05)
        .group_by("l_returnflag", "l_linestatus")
        .agg(n=_.l_quantity.count(), qty=_.l_quantity.sum(), price=_.l_extendedprice.sum())
    )
    server = flight_serve(exchange_expr, ctx.spark, name="lineitem_agg")
    orders_by_segment = (
        xo.read_parquet(path["orders"])
        .join(xo.read_parquet(path["customer"]), [("o_custkey", "c_custkey")])
        .group_by("c_mktsegment")
        .agg(n=_.o_orderkey.count(), total=_.o_totalprice.sum())
    )
    server.register_expr("orders_by_segment", orders_by_segment)
    return {
        "path": path,
        "lineitem": lineitem,
        "server": server,
        "client": FlightClient(server.endpoint),
        "duckdb": duckdb.connect(),
        "oracle": duckdb.connect(),
        "seq": request_sequence(ctx.args.seed, lineitem.num_rows, ctx.args.requests),
        "expected": {},
    }


def close(state) -> None:
    state["client"].close()
    state["server"].shutdown()
    state["duckdb"].close()
    state["oracle"].close()


# -- requests ---------------------------------------------------------------
def cache_expr(state, thr: float):
    import xorq_spark as xo
    from xorq_spark import _

    return (
        xo.read_parquet(state["path"]["lineitem"])
        .filter(_.l_extendedprice > thr)
        .group_by("l_returnflag", "l_linestatus")
        .agg(n=_.l_quantity.count(), qty=_.l_quantity.sum(), price=_.l_extendedprice.sum())
        .cache()
    )


def duckdb_projection(state, priority: str):
    import xorq_spark as xo
    from xorq_spark import _

    return (
        xo.read_parquet(state["path"]["orders"])
        .filter(_.o_orderpriority == priority)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


DUCKDB_QUERY = (
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
    "FROM {src} GROUP BY o_orderstatus"
)


def do_request(ctx, state, kind: str, param, rec: dict):
    """Run one request and return its response as an Arrow table. In a
    traced run, fill `rec` with the per-layer observations."""
    from xorq_spark import cache as C
    from xorq_spark.interop import into_backend

    tr = ctx.tracer
    if kind == "cache_lookup":
        expr = cache_expr(state, param)
        if ctx.traced:
            with tr.span("tokenize"):
                t = time.perf_counter()
                key = C.calc_key(expr.node.parent, expr.node.strategy)
                rec["tokenize_ms"] = (time.perf_counter() - t) * 1000.0
            rec["hit"] = C.exists(key)
            rec["artifact"] = C.artifact_path(key)
        with tr.span("cache"):
            return expr.to_pyarrow()
    if kind == "flight_exchange":
        offset, rows = param
        batch = state["lineitem"].slice(offset, rows)
        with tr.span("flight"):
            out = state["client"].exchange("lineitem_agg", batch)
        rec.update(bytes_in=batch.nbytes, bytes_out=out.nbytes)
        return out
    if kind == "flight_get":
        with tr.span("flight"):
            out = state["client"].get("orders_by_segment")
        rec.update(bytes_in=0, bytes_out=out.nbytes)
        return out
    con = state["duckdb"]
    name = f"orders_{PRIORITIES.index(param)}"
    with tr.span("interop"):
        into_backend(duckdb_projection(state, param), con, name)
    with tr.span("duckdb"):
        t = time.perf_counter()
        out = con.sql(DUCKDB_QUERY.format(src=name)).arrow()
        rec["duckdb_ms"] = (time.perf_counter() - t) * 1000.0
    return out


# -- output check -----------------------------------------------------------
def expected(state, kind: str, param):
    """DuckDB's answer to the same request, memoized per request."""
    key = (kind, param)
    if key in state["expected"]:
        return state["expected"][key]
    con, path = state["oracle"], state["path"]
    agg = "count(l_quantity) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price"
    keys = "l_returnflag, l_linestatus"
    if kind == "cache_lookup":
        sql = (f"SELECT {keys}, {agg} FROM read_parquet('{path['lineitem']}') "
               f"WHERE l_extendedprice > {param!r} GROUP BY {keys}")
    elif kind == "flight_exchange":
        con.register("batch", state["lineitem"].slice(*param))
        sql = f"SELECT {keys}, {agg} FROM batch WHERE l_discount < 0.05 GROUP BY {keys}"
    elif kind == "flight_get":
        sql = (f"SELECT c_mktsegment, count(o_orderkey) AS n, sum(o_totalprice) AS total "
               f"FROM read_parquet('{path['orders']}') o JOIN read_parquet('{path['customer']}') c "
               f"ON o_custkey = c_custkey GROUP BY c_mktsegment")
    else:
        src = (f"(SELECT * FROM read_parquet('{path['orders']}') "
               f"WHERE o_orderpriority = '{param}')")
        sql = DUCKDB_QUERY.format(src=src)
    out = con.sql(sql).arrow()
    state["expected"][key] = out
    return out


def _rows(table) -> list:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(zip(*data), key=lambda r: [str(v) for v in r])


def same(got, want) -> bool:
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc or len(gr) != len(wr):
        return False
    for a, b in zip(gr, wr):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# -- passes -----------------------------------------------------------------
def run_pass(ctx, state, index: int, responses: list) -> dict:
    """Run the pass's requests from an empty cache root."""
    os.environ["XORQ_SPARK_CACHE_DIR"] = os.path.join(ctx.work, "cache", f"pass{index}")
    tr, jvm = ctx.tracer, ctx.jvm
    reqs = []
    for kind, param in state["seq"]:
        rec = {"kind": kind, "error": None}
        with tr.span("probe"):
            rec["probe"] = speed_probe_s()
            sampler = Sampler()
        if ctx.traced:
            with tr.span("bookkeeping"):
                j0 = jvm.next_job_id()
        t0 = time.perf_counter()
        try:
            with tr.span(kind) as s_req:
                out = do_request(ctx, state, kind, param, rec)
            responses.append((kind, param, out))
        except Exception as e:  # counted in error_rate
            rec["error"] = f"{kind}{param!r}: {type(e).__name__}: {str(e)[:300]}"
        rec["wall"] = time.perf_counter() - t0
        with tr.span("probe"):
            rec.update(sampler.op_sample())
        report.scaled(rec)
        if ctx.traced and rec["error"] is None:
            with tr.span("bookkeeping"):
                jvm.drain()
                jobs = jvm.jobs(j0, jvm.next_job_id())
                rec.update(report.exec_counters(jobs))
                rec["exec_s"] = union_s([(a, b) for a, b, _ in jobs], s_req["start"], s_req["end"])
                rec["gap_s"] = (s_req["end"] - s_req["start"]) - rec["exec_s"]
                if kind == "cache_lookup" and not rec["hit"]:
                    rec["write_bytes"] = _du(rec["artifact"])
                if kind == "to_duckdb":
                    name = f"orders_{PRIORITIES.index(param)}"
                    rec["arrow_bytes"] = state["duckdb"].sql(f"SELECT * FROM {name}").arrow().nbytes
        reqs.append(rec)
    with tr.span("hygiene"):
        ctx.settle()
    return {"reqs": reqs, "wall": sum(r["wall"] for r in reqs),
            "ext_cpu": sum(r["ext_cpu"] for r in reqs), "load1": os.getloadavg()[0]}


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def measure(ctx, state) -> dict:
    responses = []
    first = run_pass(ctx, state, 0, responses)
    warm = run_pass(ctx, state, 1, responses)
    passes = []
    window_t0 = time.time()
    deadline = time.perf_counter() + ctx.args.seconds
    while time.perf_counter() < deadline or len(passes) < report.MIN_PASSES:
        passes.append(run_pass(ctx, state, len(passes) + 2, responses))
    window_t1 = time.time()

    errors = [r["error"] for p in [first, warm] + passes for r in p["reqs"] if r["error"]]
    for kind, param, out in responses:
        if not same(out, expected(state, kind, param)):
            errors.append(f"{kind}{param!r}: response differs from DuckDB")
    attempted = sum(len(p["reqs"]) for p in [first, warm] + passes)
    failed = len(errors)

    # slot i holds the i-th request of every pass: the same request
    slots = [[r for r in slot if r["error"] is None]
             for slot in zip(*(p["reqs"] for p in passes))]

    def steady(key):
        """Sum over the sequence's requests of each one's median of
        `key`: one steady pass, each request at its typical speed."""
        return sum(statistics.median(r[key] for r in rs) for rs in slots if rs)

    reqs = [r for rs in slots for r in rs]
    lat_ms = [r["wall"] * 1000.0 for r in reqs]
    metrics = {
        "run_s": (steady("wall_ref"), "s"),
        "cpu_s": (steady("cpu"), "CPU-s"),
        "raw.run_s": (steady("wall"), "s"),
        "host.probe_ms": (report.median_ms(r["probe"] for r in reqs), "ms"),
        "host.steal_pct": (100.0 * statistics.median(r["steal_frac"] for r in reqs), "%"),
        "first_pass_s": (first["wall"], "s"),
        "peak_rss_mb": (max((r["rss_mb"] for r in reqs), default=0.0), "MiB"),
        "req_p50_ms": (report.percentile(lat_ms, 50), "ms"),
        "req_p90_ms": (report.percentile(lat_ms, 90), "ms"),
    }
    layers = report.zero_layers()
    layers.update({
        "driver.py_cpu_s": (steady("driver_cpu"), "CPU-s"),
        "jvm.cpu_s": (steady("jvm_cpu"), "CPU-s"),
        "jvm.jit_cpu_s": (steady("jit_cpu"), "CPU-s"),
        "pyworker.cpu_s": (steady("pyworker_cpu"), "CPU-s"),
        "pyworker.spawns": (sum(r["spawns"] for r in reqs), "count"),
        "pyworker.bytes_sent_mb": (steady("worker_read") / (1 << 20), "MiB"),
        "pyworker.bytes_recv_mb": (steady("worker_written") / (1 << 20), "MiB"),
        "host.ext_cpu_s": (steady("ext_cpu"), "CPU-s"),
        "host.load1": (os.getloadavg()[0], "load"),
        "error_rate": (failed / attempted, "ratio"),
    })
    if ctx.traced:
        layers.update(traced_layers(ctx, passes, reqs, window_t0, window_t1))
        layers["trace.run_s"] = (steady("wall_ref"), "s")
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "first_pass": {"wall_s": first["wall"]},
        "passes": [{"wall_s": p["wall"], "host.ext_cpu_s": p["ext_cpu"],
                    "host.load1": p["load1"]} for p in passes],
        "samples": {"requests": len(reqs), "passes": len(passes)},
    }


def traced_layers(ctx, passes, reqs, t0: float, t1: float) -> dict:
    MB = float(1 << 20)
    n_pass = len(passes)

    def per_pass(key, rs=reqs):
        return sum(r.get(key, 0) for r in rs) / n_pass

    def median_ms(rs):
        return report.median_ms(r["wall"] for r in rs)

    by = {k: [r for r in reqs if r["kind"] == k] for k in
          ("cache_lookup", "flight_exchange", "flight_get", "to_duckdb")}
    lookups = by["cache_lookup"]
    hits = [r for r in lookups if r["hit"]]
    misses = [r for r in lookups if not r["hit"]]
    flight = by["flight_exchange"] + by["flight_get"]
    out = {
        "exec.job_s": (per_pass("exec_s"), "s"),
        "driver.gap_s": (per_pass("gap_s"), "s"),
        "cache.lookups": (len(lookups), "count"),
        "cache.hits": (len(hits), "count"),
        "cache.misses": (len(misses), "count"),
        "cache.hit_ratio": (len(hits) / len(lookups) if lookups else 0.0, "ratio"),
        "cache.hit_ms": (median_ms(hits), "ms"),
        "cache.miss_ms": (median_ms(misses), "ms"),
        "cache.write_mb": (per_pass("write_bytes") / MB, "MiB"),
        "tokenize.ms": (statistics.median(r["tokenize_ms"] for r in lookups) if lookups else 0.0, "ms"),
        "flight.requests": (len(flight), "count"),
        "flight.exchange_ms": (median_ms(by["flight_exchange"]), "ms"),
        "flight.get_ms": (median_ms(by["flight_get"]), "ms"),
        "flight.jobs_per_req": (sum(r["jobs"] for r in flight) / len(flight) if flight else 0.0, "ratio"),
        "flight.bytes_in_mb": (per_pass("bytes_in", flight) / MB, "MiB"),
        "flight.bytes_out_mb": (per_pass("bytes_out", flight) / MB, "MiB"),
        "interop.duckdb_ms": (statistics.median(r["duckdb_ms"] for r in by["to_duckdb"]) if by["to_duckdb"] else 0.0, "ms"),
        "interop.arrow_mb": (per_pass("arrow_bytes") / MB, "MiB"),
    }
    for name, key in (("exec.jobs", "jobs"), ("exec.stages", "stages"), ("exec.tasks", "tasks"),
                      ("exec.cpu_s", "exec_cpu_s"), ("exec.gc_s", "exec_gc_s"),
                      ("exec.input_mb", "input_mb"), ("exec.shuffle_read_mb", "shuffle_read_mb"),
                      ("exec.shuffle_write_mb", "shuffle_write_mb"), ("exec.spill_mb", "spill_mb")):
        out[name] = (per_pass(key), report.LAYERS[name])
    req_sum = sum(r["wall"] for r in reqs)
    out.update(report.trace_accounting(ctx.tracer, t0, t1, req_sum))
    return out
