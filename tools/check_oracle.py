"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, an order-insensitive value hash (columns sorted by name, rows
sorted, values normalized), AND the Arrow-level type class of every
output column. The type-class check exists because the driver's value
hash is representation-sensitive: a DuckDB ``sum()`` silently widens
BIGINT to HUGEINT (int128 -> decimal128/float in Arrow/pandas), which
stringifies differently from Spark's BIGINT even when the values are
equal — round 3 shipped three red driver rows that this script's
Python-value normalization could not see. Arrow type classes are
compared AFTER canonicalization (int widths collapse, large_string ==
string, any timestamp unit == timestamp) so only representation-
changing divergence (int vs decimal/float, string vs binary) fails.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from datetime import datetime, date
from decimal import Decimal

import re

import duckdb

_SPARK_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "varchar": "str", "char": "str",
    "binary": "bin", "date": "date", "boolean": "bool",
    "void": "null", "null": "null",
}
_DUCK_CLASS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    # HUGEINT deliberately has NO class mapping -> flagged as divergent
    "FLOAT": "float", "REAL": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BLOB": "bin", "DATE": "date", "BOOLEAN": "bool",
    '"NULL"': "null", "NULL": "null",
}


def spark_type_class(simple: str) -> str:
    """Collapse a Spark simpleString type to its representation class.

    Two columns in the same class stringify identically under the
    driver's pandas/Python value normalization; cross-class divergence
    (int vs decimal/float, str vs bin) breaks its value hash even when
    the values are numerically equal.
    """
    s = simple.strip().lower()
    if s in _SPARK_CLASS:
        return _SPARK_CLASS[s]
    if s.startswith("decimal"):
        return f"decimal{s[7:]}"
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("array<") and s.endswith(">"):
        return f"list<{spark_type_class(s[6:-1])}>"
    m = re.match(r"map<(.+),(.+)>$", s)
    if m and "<" not in m.group(1):
        return f"map<{spark_type_class(m.group(1))},{spark_type_class(m.group(2))}>"
    if s.startswith("struct<"):
        return "struct"
    return s


def duck_type_class(ducktype: str) -> str:
    """Collapse a DuckDB type string to the same class vocabulary."""
    t = str(ducktype).strip().upper()
    if t in _DUCK_CLASS:
        return _DUCK_CLASS[t]
    m = re.match(r"DECIMAL\((\d+),(\d+)\)$", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.endswith("[]"):
        return f"list<{duck_type_class(t[:-2])}>"
    if t.startswith("MAP("):
        inner = t[4:-1]
        parts = inner.split(",", 1)
        if len(parts) == 2 and "(" not in parts[0]:
            return f"map<{duck_type_class(parts[0])},{duck_type_class(parts[1])}>"
    if t.startswith("STRUCT("):
        return "struct"
    return t.lower()


def type_class_mismatches(spark_fields, duck_cols, duck_types):
    """Per-column (name, spark_class, duck_class) triples that differ.

    spark_fields: iterable of (name, simpleString); duck_cols/types from
    a DuckDB relation. Only columns present on both sides are compared
    (name mismatches are reported separately).
    """
    sm = {n: spark_type_class(t) for n, t in spark_fields}
    dm = {c: duck_type_class(t) for c, t in zip(duck_cols, duck_types)}
    return [
        (name, sm[name], dm[name])
        for name in sorted(set(sm) & set(dm))
        if sm[name] != dm[name]
    ]


def _norm_value(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # round-trippable shortest repr; both engines produce identical
        # doubles under our decimal-exact convention
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Check the tree this script lives in, whatever the working
    # directory; PYTHONPATH lets Spark's Python workers (and the worker
    # daemon gate in session.connect) import that same tree.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entry_mod
    from xorq_spark.session import connect

    # The full sweep runs 370+ queries through ONE local-mode session:
    # Spark's 1g default driver heap (which in local mode is the whole
    # JVM, executors included) OOM'd the appStatus listener mid-sweep
    # once the registry grew past ~370 entries. Explicit headroom, env
    # overridable; bench.py sizes its own session the same way.
    spark = connect(
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "XORQ_ORACLE_DRIVER_MEMORY", "12g"
            ),
        }
    )
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            sfields = [(f.name, f.dataType.simpleString()) for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        else:
            bad = type_class_mismatches(sfields, dcols, dtypes)
            if bad:
                problems.append(
                    "type-class mismatch (driver hash is "
                    f"representation-sensitive): {bad}"
                )
        if not problems:
            sh, slines = frame_fingerprint(scols, srows)
            dh, dlines = frame_fingerprint(dcols, drows)
            if sh != dh:
                diffs = [
                    (a, b) for a, b in zip(slines, dlines) if a != b
                ][:3]
                problems.append(f"value-hash mismatch; first diffs: {diffs}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows, hash match")

    print(f"\n{len(queries) - len(failures)}/{len(queries)} pass")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
