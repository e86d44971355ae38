"""User-facing deferred API.

The rebuild's `xo.*` surface (reference: python/xorq/expr/api.py and
vendor/ibis/expr/api.py): deferred reads, memtables, unbound tables,
params, literals, and the `_` column placeholder. Everything returns an
`Expr` that lowers to PySpark on execute.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterable, Optional, Union

from xorq_spark.expr import nodes as N
from xorq_spark.expr.core import Expr, register_memtable
from xorq_spark.expr.datatypes import schema_to_struct, to_spark_ddl
from xorq_spark.expr.deferred import (
    _,
    CaseBuilder,
    Deferred,
    Func,
    Lit,
    Param,
    PyUDF,
    SortKey,
    unwrap,
)

__all__ = [
    "_", "asc", "desc", "case", "literal", "param", "memtable", "table",
    "deferred_read_parquet", "deferred_read_csv", "deferred_read_json",
    "deferred_read_orc", "read_orc",
    "read_parquet", "read_csv", "read_json", "register", "row_number",
]


def _paths(path) -> tuple:
    if isinstance(path, (list, tuple)):
        return tuple(str(p) for p in path)
    return (str(path),)


def _ddl(schema) -> Optional[str]:
    """Schema -> canonical DDL string WITHOUT touching Spark: expression
    graphs must build session-free (validation happens at lowering)."""
    if schema is None:
        return None
    if isinstance(schema, str):
        return ",".join(
            f"{part.strip().split(None, 1)[0]} {to_spark_ddl(part.strip().split(None, 1)[1])}"
            for part in schema.split(",")
        )
    from pyspark.sql.types import StructType

    if isinstance(schema, StructType):
        return ",".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    return ",".join(f"{n} {to_spark_ddl(str(t))}" for n, t in dict(schema).items())


def deferred_read_parquet(path, schema=None, table_name: Optional[str] = None) -> Expr:
    """Deferred Parquet read (reference: deferred_read_parquet,
    common/utils/defer_utils.py:242). With `schema` the plan builds
    without touching the files."""
    return Expr(N.ReadParquet(_paths(path), _ddl(schema), table_name))


def deferred_read_csv(path, schema=None, table_name: Optional[str] = None, **options) -> Expr:
    opts = {"header": "true", **{k: str(v) for k, v in options.items()}}
    return Expr(
        N.ReadCSV(_paths(path), _ddl(schema), tuple(sorted(opts.items())), table_name)
    )


def deferred_read_json(path, schema=None, table_name: Optional[str] = None, **options) -> Expr:
    return Expr(
        N.ReadJSON(
            _paths(path), _ddl(schema),
            tuple(sorted((k, str(v)) for k, v in options.items())), table_name,
        )
    )


def deferred_read_orc(path, schema=None, table_name: Optional[str] = None) -> Expr:
    """Deferred ORC read — same contract as deferred_read_parquet
    (schema-declared plans build without touching files)."""
    return Expr(N.ReadORC(_paths(path), _ddl(schema), table_name))


def deferred_read_delta(path, version: Optional[int] = None, table_name: Optional[str] = None) -> Expr:
    """Deferred Delta Lake read (gated: needs delta-spark at execution;
    graph construction is always allowed)."""
    return Expr(N.ReadDelta(str(path), version, table_name))


read_parquet = deferred_read_parquet
read_csv = deferred_read_csv
read_json = deferred_read_json
read_orc = deferred_read_orc
read_delta = deferred_read_delta


def memtable(data, schema=None, name: Optional[str] = None) -> Expr:
    """Literal in-memory table (reference: vendor/ibis/expr/api.py:371).
    Accepts pandas DataFrame, pyarrow Table, dict-of-lists, or list of
    dicts; payload is registered under its content hash so the IR node
    stays plain data."""
    import pyarrow as pa

    if isinstance(data, pa.Table):
        tbl = data
    elif hasattr(data, "to_dict") and hasattr(data, "columns"):  # pandas
        tbl = pa.Table.from_pandas(data, preserve_index=False)
    elif isinstance(data, dict):
        tbl = pa.table(data)
    elif isinstance(data, (list, tuple)):
        import pandas as pd

        tbl = pa.Table.from_pandas(pd.DataFrame(list(data)), preserve_index=False)
    else:
        raise TypeError(f"cannot build memtable from {type(data).__name__}")
    if schema is not None:
        struct = schema_to_struct(schema)
    else:
        from pyspark.sql.pandas.types import from_arrow_schema

        struct = from_arrow_schema(tbl.schema)
    ddl = ",".join(f"{f.name} {f.dataType.simpleString()}" for f in struct.fields)
    h = hashlib.sha256()
    h.update(ddl.encode())
    for batch in tbl.to_batches():
        for col in batch.columns:
            h.update(str(col).encode())
    token = h.hexdigest()[:16]
    register_memtable(token, tbl)
    return Expr(N.Memtable(token, ddl, name))


def table(name_or_schema, name: Optional[str] = None) -> Expr:
    """`table("catalog_name")` -> bound catalog table;
    `table({schema}, "name")` -> unbound schema-only template
    (reference: ops.UnboundTable)."""
    if isinstance(name_or_schema, str) and name is None:
        return Expr(N.TableRef(name_or_schema))
    ddl = _ddl(name_or_schema)
    return Expr(N.UnboundTable(name or "unbound", ddl))


def register(spark, source, table_name: str) -> Expr:
    """Polymorphic source registration (reference:
    backends/xorq_datafusion/backend.py:463): path / pandas / Arrow /
    DataFrame -> named temp view + Expr over it."""
    import pyarrow as pa

    if isinstance(source, str):
        if source.endswith(".csv"):
            df = spark.read.option("header", "true").option("inferSchema", "true").csv(source)
        elif source.endswith(".json"):
            df = spark.read.json(source)
        else:
            df = spark.read.parquet(source)
    elif isinstance(source, pa.Table):
        # straight from Arrow: a pandas hop turns nullable int64 into double
        df = spark.createDataFrame(source)
    elif hasattr(source, "toPandas"):  # spark DataFrame
        df = source
    elif hasattr(source, "columns"):  # pandas
        df = spark.createDataFrame(source)
    else:
        raise TypeError(f"cannot register {type(source).__name__}")
    df.createOrReplaceTempView(table_name)
    return Expr(N.TableRef(table_name), spark)


def param(name: str, dtype: Optional[str] = None, default: Any = None) -> Deferred:
    """Named scalar parameter (reference: expr/api.py:801-890); bound at
    execute(params={...}) or falling back to `default`."""
    return Deferred(Param(name, to_spark_ddl(dtype) if dtype else None, default))


def literal(value: Any, dtype: Optional[str] = None) -> Deferred:
    return Deferred(Lit(value, to_spark_ddl(dtype) if dtype else None))


def case() -> CaseBuilder:
    return CaseBuilder()


def _to_vnode(col):
    from xorq_spark.expr.deferred import Col

    if isinstance(col, str):
        return Col(col)
    return unwrap(col)


def asc(col) -> Deferred:
    return Deferred(SortKey(_to_vnode(col)))


def desc(col) -> Deferred:
    return Deferred(SortKey(_to_vnode(col), ascending=False))


def row_number() -> Deferred:
    return Deferred(Func("row_number", ()))
