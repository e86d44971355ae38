"""Canonical expression tokenizer ("dasher" equivalent).

Reference: content hashing in common/utils/dasher/__init__.py:136,220 —
canonical recursive normalization of the expression graph to a stable
token, with a strategy split (ADR-0015): the *mtime* flavor folds source
file stats into the key (data change -> new key), the *snapshot* flavor
hashes structure + path identity only.

We hash OUR IR, never Spark's plan strings (unstable across versions) —
SURVEY §7 "hard parts". Tokens are stable across processes and sessions:
only plain data (dataclass field values, file stats) participates.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import decimal as _decimal
import glob
import hashlib
import os
from typing import Any

from xorq_spark.expr import nodes as N
from xorq_spark.expr.deferred import PyUDF, VNode


def _source_paths(node: N.RNode) -> tuple:
    if isinstance(node, (N.ReadParquet, N.ReadCSV, N.ReadJSON, N.ReadORC)):
        return node.paths
    return ()


def stat_token(path: str) -> str:
    """mtime+size fingerprint of a file/dir/glob (directories: every file
    under them, sorted). Missing paths tokenize as 'absent' rather than
    erroring — the read itself will fail later with a better message."""
    entries = []
    candidates = sorted(glob.glob(path)) or [path]
    for p in candidates:
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    try:
                        st = os.stat(fp)
                        entries.append(f"{fp}:{st.st_mtime_ns}:{st.st_size}")
                    except OSError:
                        entries.append(f"{fp}:absent")
        else:
            try:
                st = os.stat(p)
                entries.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
            except OSError:
                entries.append(f"{p}:absent")
    return "|".join(entries)


def _norm(value: Any, strategy: str) -> Any:
    if isinstance(value, N.RNode):
        return _norm_node(value, strategy)
    if isinstance(value, PyUDF):
        # UDFs participate by qualified name + signature, not bytecode
        # (reference tokenizes UDF config similarly; bytecode is unstable)
        return (
            "PyUDF",
            value.fn_name or getattr(value.fn, "__qualname__", "lambda"),
            tuple(_norm(a, strategy) for a in value.args),
            value.dtype,
            value.kind,
        )
    if isinstance(value, VNode):
        return (
            type(value).__name__,
            tuple(
                (f.name, _norm(getattr(value, f.name), strategy))
                for f in dataclasses.fields(value)
                if f.compare
            ),
        )
    if isinstance(value, tuple):
        return tuple(_norm(v, strategy) for v in value)
    if isinstance(value, (_dt.date, _dt.datetime, _decimal.Decimal)):
        return f"{type(value).__name__}:{value.isoformat() if hasattr(value, 'isoformat') else str(value)}"
    if isinstance(value, (str, int, float, bool, bytes, type(None))):
        return value
    if callable(value):
        return f"callable:{getattr(value, '__qualname__', repr(value))}"
    return repr(value)


def _norm_node(node: N.RNode, strategy: str) -> tuple:
    # Plain tags are annotations, not computation: same token as the
    # untagged expr. Hashing tags fall through and salt the token.
    if isinstance(node, N.Tag) and not node.hashing:
        return _norm_node(node.parent, strategy)
    body = (
        type(node).__name__,
        tuple(
            (f.name, _norm(getattr(node, f.name), strategy))
            for f in dataclasses.fields(node)
        ),
    )
    if strategy == "mtime":
        stats = tuple(stat_token(p) for p in _source_paths(node))
        if stats:
            body = body + (("__stat__", stats),)
    return body


def tokenize(node: N.RNode, strategy: str = "mtime") -> str:
    """Stable hex token of an expression graph. strategy='mtime' folds
    source-file stats in (ModificationTimeStrategy, caching/strategy.py:84);
    'snapshot' is structure-only (SnapshotStrategy, :90)."""
    if strategy.startswith("ttl:"):
        strategy = "snapshot"
    canonical = repr(_norm_node(node, strategy))
    return hashlib.sha256(canonical.encode()).hexdigest()[:32]
