"""Build artifacts: serialize expression graphs to reproducible,
relocatable build directories and load them back.

Reference: `xorq build` / `xorq run` (cli.py:233,306) writing
builds/<expr_hash>/ with expr.yaml (full IR round-trip,
ibis_yaml/translate.py), metadata, debug SQL, and requirements
(ibis_yaml/compiler.py:546,994). The hash invariant (ADR-0002/0015):
same logical pipeline -> same build hash, across machines — which is
why we hash OUR IR, never Spark plan strings.

Layout of builds/<hash>/:
  expr.yaml          the IR as plain data (op + fields, recursively)
  memtables/*.arrow  Arrow IPC payloads for Memtable nodes
  udfs/*.pkl         cloudpickled callables for UDF nodes
  metadata.json      build time, library versions, entry schema
  plan.txt           lowered Spark plan (debug, not used for loading)
  requirements.txt   pinned interpreter + library versions
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import platform
import sys
from typing import Any, Optional

import yaml

from xorq_spark.expr import nodes as N
from xorq_spark.expr import deferred as D
from xorq_spark.expr.core import Expr, get_memtable, register_memtable
from xorq_spark.tokenize import tokenize

_NODE_TYPES = {
    cls.__name__: cls
    for cls in vars(N).values()
    if isinstance(cls, type) and issubclass(cls, N.RNode) and cls is not N.RNode
}
_VNODE_TYPES = {
    cls.__name__: cls
    for cls in vars(D).values()
    if isinstance(cls, type) and issubclass(cls, D.VNode) and cls is not D.VNode
}


def to_data(obj: Any) -> Any:
    """Recursive IR -> plain data. Tagged dicts for nodes; lists for
    tuples (YAML-friendly)."""
    if isinstance(obj, N.RNode) or isinstance(obj, D.VNode):
        d = {"$node": type(obj).__name__}
        for f in dataclasses.fields(obj):
            v = getattr(obj, f.name)
            if isinstance(obj, D.PyUDF) and f.name == "fn":
                continue  # rehydrated from udfs/ at load
            d[f.name] = to_data(v)
        return d
    if isinstance(obj, tuple):
        return {"tuple": [to_data(x) for x in obj]}
    if isinstance(obj, list):
        return [to_data(x) for x in obj]
    if isinstance(obj, (datetime.date, datetime.datetime)):
        return {"datetime": obj.isoformat(), "kind": type(obj).__name__}
    if isinstance(obj, bytes):
        import base64

        return {"bytes": base64.b64encode(obj).decode()}
    return obj


def from_data(d: Any, udf_loader=None) -> Any:
    if isinstance(d, dict):
        if "$node" in d:
            name = d["$node"]
            cls = _NODE_TYPES.get(name) or _VNODE_TYPES.get(name)
            if cls is None:
                raise ValueError(f"unknown IR op {name!r}")
            kwargs = {
                k: from_data(v, udf_loader) for k, v in d.items() if k != "$node"
            }
            if cls is D.PyUDF:
                token = kwargs.get("fn_name", "")
                fn = udf_loader(f"pyudf:{token}") if udf_loader else None
                kwargs["fn"] = fn
            return cls(**kwargs)
        if "tuple" in d and len(d) == 1:
            return tuple(from_data(x, udf_loader) for x in d["tuple"])
        if "datetime" in d:
            s, kind = d["datetime"], d.get("kind", "datetime")
            return (
                datetime.date.fromisoformat(s)
                if kind == "date"
                else datetime.datetime.fromisoformat(s)
            )
        if "bytes" in d:
            import base64

            return base64.b64decode(d["bytes"])
        return {k: from_data(v, udf_loader) for k, v in d.items()}
    if isinstance(d, list):
        return [from_data(x, udf_loader) for x in d]
    return d


def _collect_assets(node: Any, memtables: set, udf_tokens: set, pyudfs: list):
    if isinstance(node, N.Memtable):
        memtables.add((node.token,))
    for attr in ("fn_token",):
        tok = getattr(node, attr, None)
        if tok:
            udf_tokens.add(tok)
    if isinstance(node, D.PyUDF):
        pyudfs.append(node)
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            if dataclasses.is_dataclass(v):
                _collect_assets(v, memtables, udf_tokens, pyudfs)
            elif isinstance(v, tuple):
                for x in _flatten(v):
                    if dataclasses.is_dataclass(x):
                        _collect_assets(x, memtables, udf_tokens, pyudfs)


def _flatten(t):
    for x in t:
        if isinstance(x, tuple):
            yield from _flatten(x)
        else:
            yield x


def build(expr: Expr, builds_dir: str = "builds") -> str:
    """Serialize `expr` under builds/<hash>/ and return the path."""
    import cloudpickle
    import pyarrow as pa
    import pyarrow.ipc as ipc

    h = tokenize(expr.node, "snapshot")[:16]
    out = os.path.join(builds_dir, h)
    os.makedirs(out, exist_ok=True)

    memtables: set = set()
    udf_tokens: set = set()
    pyudfs: list = []
    _collect_assets(expr.node, memtables, udf_tokens, pyudfs)

    if memtables:
        os.makedirs(os.path.join(out, "memtables"), exist_ok=True)
        for (token,) in memtables:
            tbl = get_memtable(token)
            with ipc.new_file(
                os.path.join(out, "memtables", f"{token}.arrow"), tbl.schema
            ) as w:
                w.write_table(tbl)
    if udf_tokens or pyudfs:
        from xorq_spark.udf import get_fn

        os.makedirs(os.path.join(out, "udfs"), exist_ok=True)
        for tok in udf_tokens:
            with open(os.path.join(out, "udfs", _safe(tok) + ".pkl"), "wb") as f:
                cloudpickle.dump(get_fn(tok), f)
        for p in pyudfs:
            with open(
                os.path.join(out, "udfs", "pyudf_" + _safe(p.fn_name) + ".pkl"), "wb"
            ) as f:
                cloudpickle.dump(p.fn, f)

    with open(os.path.join(out, "expr.yaml"), "w") as f:
        yaml.safe_dump(to_data(expr.node), f, sort_keys=False)

    try:
        import pyspark

        spark_version = pyspark.__version__
    except Exception:  # pragma: no cover
        spark_version = "unknown"
    meta = {
        "expr_hash": h,
        "built_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "python": sys.version.split()[0],
        "platform": platform.platform(),
        "pyspark": spark_version,
        "token_mtime": tokenize(expr.node, "mtime"),
    }
    with open(os.path.join(out, "metadata.json"), "w") as f:
        json.dump(meta, f, indent=2)
    # debug plan dump (sql.yaml analog, ibis_yaml/sql.py:111) — only when
    # a live session exists; loading never depends on it. CachedNodes
    # are swapped for their parents first: lowering a COLD cache
    # materializes its artifact, and `build` must never execute the
    # expression as a side effect (the pin CLI's cold-cache error
    # contract depends on builds staying cold).
    try:
        from pyspark.sql import SparkSession

        if SparkSession.getActiveSession() is not None:
            from xorq_spark.cache import _rewrite_children

            def _strip_cache(n):
                n = _rewrite_children(n, _strip_cache)
                return n.parent if isinstance(n, N.CachedNode) else n

            df = Expr(_strip_cache(expr.node), expr._spark).to_spark()
            with open(os.path.join(out, "plan.txt"), "w") as f:
                f.write(df._jdf.queryExecution().toString())
    except Exception:
        pass
    with open(os.path.join(out, "requirements.txt"), "w") as f:
        f.write(f"pyspark=={spark_version}\npyarrow\npandas\n")
    # Connection profile so `run` on another machine reconnects the same
    # way (profiles.yaml analog, vendor/ibis/backends/profiles.py:120).
    # Spark's "connection" is the session conf: master + the portable
    # analytic opts. The host-gated entries (scratch dir, worker daemon)
    # are left out: connect() recomputes them for the master it is given.
    from xorq_spark.session import analytic_options

    profile = {
        "master": os.environ.get("XORQ_SPARK_MASTER", "local[*]"),
        "conf": analytic_options(),
    }
    with open(os.path.join(out, "profile.yaml"), "w") as f:
        yaml.safe_dump(profile, f, sort_keys=False)
    return out


def _safe(s: str) -> str:
    return "".join(c if c.isalnum() or c in "-_." else "_" for c in s)


def load_profile(build_dir: str):
    """Reconnect per the build's recorded connection profile (the
    load_expr profiles step, ibis_yaml/compiler.py:896). Returns a
    SparkSession; env XORQ_SPARK_MASTER still wins so a build made on
    local[*] can run against a cluster unchanged."""
    from xorq_spark.session import connect

    path = os.path.join(build_dir, "profile.yaml")
    if not os.path.exists(path):
        return connect()
    with open(path) as f:
        profile = yaml.safe_load(f) or {}
    master = os.environ.get("XORQ_SPARK_MASTER", profile.get("master"))
    return connect(master=master, extra_conf=profile.get("conf") or {})


def load(build_dir: str, spark=None) -> Expr:
    """Load a build back into an executable Expr."""
    import cloudpickle
    import pyarrow.ipc as ipc

    with open(os.path.join(build_dir, "expr.yaml")) as f:
        data = yaml.safe_load(f)

    def udf_loader(ref: str):
        kind, _, name = ref.partition(":")
        path = os.path.join(build_dir, "udfs", "pyudf_" + _safe(name) + ".pkl")
        with open(path, "rb") as fh:
            return cloudpickle.load(fh)

    node = from_data(data, udf_loader)

    # rehydrate memtable payloads and registry fns
    for n in N.walk(node):
        if isinstance(n, N.Memtable):
            p = os.path.join(build_dir, "memtables", f"{n.token}.arrow")
            with ipc.open_file(p) as r:
                register_memtable(n.token, r.read_all())
        tok = getattr(n, "fn_token", None)
        if tok:
            from xorq_spark.udf import _REGISTRY

            p = os.path.join(build_dir, "udfs", _safe(tok) + ".pkl")
            with open(p, "rb") as fh:
                _REGISTRY[tok] = cloudpickle.load(fh)
    return Expr(node, spark)
