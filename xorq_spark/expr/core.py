"""Expr: the user-facing deferred table expression, and its lowering to
PySpark DataFrames.

Mirrors the reference's `Expr`/`Table` fluent API
(vendor/ibis/expr/types/core.py:87, types/relations.py) with the
lowering target being `pyspark.sql.DataFrame` instead of SQL text —
Catalyst replaces the SQLGlot+DataFusion pipeline (SURVEY §3.1
translation). Execution entry points mirror expr/api.py:294
(execute / to_pyarrow / to_pyarrow_batches / to_parquet / ...).
"""

from __future__ import annotations

import itertools
import weakref
from typing import Any, Callable, Dict, Iterable, Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from xorq_spark.expr import nodes as N
from xorq_spark.expr.datatypes import schema_to_struct
from xorq_spark.expr.deferred import (
    Col as _VCol,
    Deferred,
    SortKey,
    VNode,
    _as_sortkey,
    bind_params,
    lower_value,
    unwrap,
)
from xorq_spark.tokenize import stat_token

# Memtable payload registry: content-token -> pyarrow.Table
_MEMTABLES: Dict[str, Any] = {}
_ids = itertools.count()


def register_memtable(token: str, arrow_table) -> None:
    _MEMTABLES[token] = arrow_table


def get_memtable(token: str):
    return _MEMTABLES[token]


# --------------------------------------------------------------------------
# Parquet schema memo
# --------------------------------------------------------------------------
# session -> {paths: (fingerprint, StructType)}. A Parquet read without a
# schema makes Spark run a footer-merge job to infer one (60-90 ms on a
# warm local[4] session on a 4-core VM); handing Spark its own earlier
# answer plans the same scan with no job. Weak keys, as queries/base._TABLE_MEMO:
# a stopped session releases its entries.
_SCHEMA_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# The session confs Spark's Parquet schema inference reads: the flags of
# ParquetToSparkSchemaConverter(SQLConf), plus mergeSchema. Read one by
# one: spark.conf.getAll costs tens of ms a call.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _schema_fingerprint(spark: SparkSession, paths: tuple) -> Optional[tuple]:
    """What Spark's inferred schema of `paths` depends on: each path's
    mtime+size stat token and the inference confs. None means the memo
    steps aside: a URI cannot be stat'ed locally, and a missing path must
    keep Spark's own error."""
    if any("://" in p for p in paths):
        return None
    stats = tuple(stat_token(p) for p in paths)
    if any(":absent" in s for s in stats):
        return None
    return stats + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


def scan_parquet(spark: SparkSession, paths: tuple) -> DataFrame:
    """`spark.read.parquet(*paths)`, reusing the schema Spark inferred
    for the same paths while neither their files nor the inference confs
    changed (the mtime cache strategy's assumption: same mtime and size,
    same file). One entry per path tuple, overwritten on change.

    Concurrent callers (Flight serves on threads) need no lock: a schema
    is kept only when the fingerprint is the same after Spark's inference
    as before it, so a file replaced or a conf set by another thread
    meanwhile is never remembered, and a lost update costs one more
    inference."""
    fp = _schema_fingerprint(spark, paths)
    if fp is None:
        return spark.read.parquet(*paths)
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    hit = memo.get(paths)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    if _schema_fingerprint(spark, paths) == fp:
        memo[paths] = (fp, df.schema)
    return df


def seed_parquet_schema(spark: SparkSession, paths: tuple, schema) -> None:
    """Record `schema` as what Spark would infer for `paths` as they are
    now, so the next scan_parquet of them reads no footer."""
    fp = _schema_fingerprint(spark, paths)
    if fp is not None:
        _SCHEMA_MEMO.setdefault(spark, {})[paths] = (fp, schema)


# --------------------------------------------------------------------------
# Lowering
# --------------------------------------------------------------------------
def _named_exprs(args, kwargs, existing_cols=None) -> tuple:
    """Normalize select/mutate/agg arguments to ((name, VNode), ...)."""
    out = []
    for a in args:
        if isinstance(a, str):
            out.append((a, _col(a)))
        elif isinstance(a, Deferred):
            name = a.get_name()
            if name is None:
                raise ValueError(f"unnamed expression {a!r}: use .alias(name)")
            out.append((name, a.node))
        elif isinstance(a, dict):
            for k, v in a.items():
                out.append((k, unwrap(v)))
        else:
            raise TypeError(f"bad projection arg: {a!r}")
    for k, v in kwargs.items():
        out.append((k, unwrap(v)))
    return tuple(out)


def _col(name: str) -> VNode:
    from xorq_spark.expr.deferred import Col

    return Col(name)


def lower(
    node: N.RNode,
    spark: SparkSession,
    bindings: Optional[Dict[str, DataFrame]] = None,
) -> DataFrame:
    """Recursively lower a relation node to a DataFrame."""
    b = bindings or {}

    def rec(n: N.RNode) -> DataFrame:
        return lower(n, spark, b)

    def cols(df: DataFrame) -> Callable[[str], Column]:
        return lambda name: df[name]

    if isinstance(node, N.ReadParquet):
        if node.schema:
            return spark.read.schema(schema_to_struct(node.schema)).parquet(*node.paths)
        return scan_parquet(spark, node.paths)
    if isinstance(node, N.ReadCSV):
        r = spark.read.options(**dict(node.options))
        if node.schema:
            r = r.schema(schema_to_struct(node.schema))
        else:
            r = r.option("inferSchema", "true")
        return r.csv(list(node.paths))
    if isinstance(node, N.ReadJSON):
        r = spark.read.options(**dict(node.options))
        if node.schema:
            r = r.schema(schema_to_struct(node.schema))
        return r.json(list(node.paths))
    if isinstance(node, N.ReadORC):
        r = spark.read
        if node.schema:
            r = r.schema(schema_to_struct(node.schema))
        return r.orc(*node.paths)
    if isinstance(node, N.ReadDelta):
        r = spark.read.format("delta")
        if node.version is not None:
            r = r.option("versionAsOf", node.version)
        try:
            return r.load(node.path)
        except Exception:  # no delta-spark jar: replay the log directly
            from xorq_spark.delta import read_delta_fallback

            return read_delta_fallback(spark, node.path, node.version)
    if isinstance(node, N.Memtable):
        tbl = get_memtable(node.token)
        # bind from Arrow, not pandas: to_pandas() turns a nullable int64
        # into float64 and rounds values past 2**53. Columns bind by
        # position (rows given as tuples arrive named "0", "1", ...)
        struct = schema_to_struct(node.schema)
        return spark.createDataFrame(tbl.rename_columns(struct.names), schema=struct)
    if isinstance(node, N.TableRef):
        return spark.table(node.name)
    if isinstance(node, N.UnboundTable):
        if node.name not in b:
            raise ValueError(f"unbound table {node.name!r}: supply bindings={{...}}")
        return b[node.name]
    if isinstance(node, N.CachedNode):
        from xorq_spark.cache import lower_cached_node

        return lower_cached_node(node, spark, b)
    if isinstance(node, N.CacheTag):
        from xorq_spark.cache import artifact_path, split_strategy

        # honor an '@<uri-root>' strategy suffix: a pinned
        # ObjectStoreCache must read the URI root it was pinned under,
        # not the process-local cache_root
        _, _root = split_strategy(node.strategy)
        return scan_parquet(spark, (artifact_path(node.key, _root),))
    if isinstance(node, N.Tag):
        return rec(node.parent)
    if isinstance(node, N.Project):
        df = rec(node.parent)
        r = cols(df)
        pairs = [(name, lower_value(v, r).alias(name)) for name, v in node.exprs]
        if node.extend:
            return df.withColumns({name: c for name, c in pairs})
        return df.select(*[c for _, c in pairs])
    if isinstance(node, N.Filter):
        df = rec(node.parent)
        r = cols(df)
        out = df
        for p in node.predicates:
            out = out.filter(lower_value(p, r))
        return out
    if isinstance(node, N.Aggregate):
        df = rec(node.parent)
        r = cols(df)
        metrics = [lower_value(v, r).alias(name) for name, v in node.metrics]
        if node.keys:
            keys = [lower_value(v, r).alias(name) for name, v in node.keys]
            return df.groupBy(*keys).agg(*metrics)
        return df.agg(*metrics)
    if isinstance(node, N.GroupingSetsAgg):
        df = rec(node.parent)
        r = cols(df)
        metrics = [lower_value(v, r).alias(name) for name, v in node.metrics]
        grouped = df.cube(*node.keys) if node.mode == "cube" else df.rollup(*node.keys)
        return grouped.agg(*metrics)
    if isinstance(node, N.Sort):
        df = rec(node.parent)
        r = cols(df)
        return df.orderBy(*[lower_value(k, r) for k in node.keys])
    if isinstance(node, N.Limit):
        df = rec(node.parent)
        if node.offset:
            df = df.offset(node.offset)
        return df.limit(node.n) if node.n is not None else df
    if isinstance(node, N.Distinct):
        df = rec(node.parent)
        if node.subset is None:
            return df.distinct()
        return df.dropDuplicates(list(node.subset))
    if isinstance(node, N.SetOp):
        l, r_ = rec(node.left), rec(node.right)
        if node.kind == "union":
            out = l.unionByName(r_)
            return out.distinct() if node.distinct else out
        if node.kind == "intersect":
            return l.intersect(r_) if node.distinct else l.intersectAll(r_)
        if node.kind == "difference":
            return l.subtract(r_) if node.distinct else l.exceptAll(r_)
        raise ValueError(node.kind)
    if isinstance(node, N.Sample):
        return rec(node.parent).sample(fraction=node.fraction, seed=node.seed)
    if isinstance(node, N.FillNull):
        df = rec(node.parent)
        repl = dict(node.replacements)
        if "*" in repl:
            return df.na.fill(repl["*"])
        return df.na.fill(repl)
    if isinstance(node, N.DropNull):
        df = rec(node.parent)
        return df.na.drop(
            how=node.how, subset=list(node.subset) if node.subset else None
        )
    if isinstance(node, N.Unnest):
        df = rec(node.parent)
        others = [c for c in df.columns if c != node.column]
        col = df[node.column]
        if node.offset:
            ex = F.posexplode_outer(col) if node.keep_empty else F.posexplode(col)
            return df.select(*others, ex.alias(f"{node.column}_offset", node.column))
        ex = F.explode_outer(col) if node.keep_empty else F.explode(col)
        return df.select(*others, ex.alias(node.column))
    if isinstance(node, N.Drop):
        return rec(node.parent).drop(*node.columns)
    if isinstance(node, N.Rename):
        return rec(node.parent).withColumnsRenamed(dict(node.mapping))
    if isinstance(node, N.SQLView):
        rec(node.parent).createOrReplaceTempView(node.alias)
        return spark.sql(node.sql)
    if isinstance(node, N.Unpivot):
        df = rec(node.parent)
        return df.unpivot(
            list(node.ids), list(node.values), node.var_name, node.val_name
        )
    if isinstance(node, N.Pivot):
        df = rec(node.parent)
        agg_fn = getattr(F, node.agg)
        return (
            df.groupBy(*node.keys)
            .pivot(node.names_from)
            .agg(agg_fn(node.values_from))
        )
    if isinstance(node, N.Describe):
        df = rec(node.parent)
        return df.summary(*node.stats) if node.stats else df.summary()
    if isinstance(node, N.Unpack):
        df = rec(node.parent)
        others = [c for c in df.columns if c != node.column]
        return df.select(*others, f"{node.column}.*")
    if isinstance(node, N.Join):
        return _lower_join(node, spark, b)
    if isinstance(node, N.AggPandas):
        from xorq_spark.udf import lower_agg_pandas

        return lower_agg_pandas(node, rec(node.parent))
    if isinstance(node, N.MapBatches):
        from xorq_spark.udf import lower_map_batches

        return lower_map_batches(node, rec(node.parent))
    if isinstance(node, N.WindowUDF):
        from xorq_spark.udf import lower_window_udf

        return lower_window_udf(node, rec(node.parent))
    raise TypeError(f"cannot lower {type(node).__name__}")


def _lower_join(node: N.Join, spark: SparkSession, b) -> DataFrame:
    left = lower(node.left, spark, b)
    right = lower(node.right, spark, b)
    how = {
        "semi": "leftsemi", "anti": "leftanti", "outer": "full",
        "any_inner": "leftsemi", "any_left": "left",
    }.get(node.how, node.how)

    if node.how == "positional":
        from xorq_spark.operators.positional import positional_join

        lo = [p[0] if isinstance(p, tuple) else p for p in node.predicates]
        ro = [p[1] if isinstance(p, tuple) else p for p in node.predicates]
        return positional_join(left, right, left_order=lo, right_order=ro)
    if node.how == "asof":
        from xorq_spark.operators.asof import asof_join

        eq = [p for p in node.predicates if isinstance(p, str)]
        return asof_join(
            left, right, on=node.on, by=list(node.by) + eq,
            direction=node.direction,
        )
    if node.how == "cross":
        return left.crossJoin(right)

    # String predicates = classic equi-join on shared names (dedupes key
    # columns the Spark way). Mixed/expression predicates use aliases.
    if node.predicates and all(isinstance(p, str) for p in node.predicates):
        return left.join(right, on=list(node.predicates), how=how)

    la, ra = left.alias("__l"), right.alias("__r")
    conds = []
    for p in node.predicates:
        if isinstance(p, str):
            conds.append(la[p] == ra[p])
        elif isinstance(p, tuple) and len(p) == 2 and all(isinstance(x, str) for x in p):
            conds.append(la[p[0]] == ra[p[1]])
        else:
            v = unwrap(p) if isinstance(p, Deferred) else p

            def resolve(name: str) -> Column:
                if name in left.columns:
                    return la[name]
                return ra[name]

            conds.append(lower_value(v, resolve))
    cond = conds[0] if conds else F.lit(True)
    for c in conds[1:]:
        cond = cond & c
    joined = la.join(ra, on=cond, how=how)
    if how in ("leftsemi", "leftanti"):
        return joined
    # De-collide duplicate right-side names with the suffix.
    lcols = [la[c].alias(c) for c in left.columns]
    rcols = [
        ra[c].alias(c + node.rsuffix if c in left.columns else c)
        for c in right.columns
    ]
    return joined.select(*lcols, *rcols)


# --------------------------------------------------------------------------
# Expr
# --------------------------------------------------------------------------
class Expr:
    """Deferred table expression bound to (at most) a SparkSession."""

    def __init__(self, node: N.RNode, spark: Optional[SparkSession] = None):
        self.node = node
        self._spark = spark

    # --- plumbing ----------------------------------------------------------
    def _wrap(self, node: N.RNode) -> "Expr":
        return Expr(node, self._spark)

    def _session(self, spark: Optional[SparkSession] = None) -> SparkSession:
        if spark is not None:
            return spark
        if self._spark is not None:
            return self._spark
        from xorq_spark.session import get_spark

        return get_spark()

    def to_spark(
        self,
        spark: Optional[SparkSession] = None,
        params: Optional[dict] = None,
        bindings: Optional[Dict[str, Any]] = None,
    ) -> DataFrame:
        """Lower to a (lazy) PySpark DataFrame — the compile step."""
        # Always run the bind pass so param defaults apply (reference:
        # bind_params is pass 1 of _PASSES, expr/api.py:463).
        node = _bind_tree_params(self.node, params or {})
        bound = {
            k: (v.to_spark(spark) if isinstance(v, Expr) else v)
            for k, v in (bindings or {}).items()
        }
        return lower(node, self._session(spark), bound)

    def __repr__(self):
        from xorq_spark.config import options

        if options.interactive:
            try:
                return self._interactive_repr()
            except Exception as exc:  # repr must not raise in a REPL
                note = f"<interactive repr failed: {type(exc).__name__}: {exc}>"
                return f"{note}\n<Expr {type(self.node).__name__}>\n{_format_tree(self.node)}"
        return f"<Expr {type(self.node).__name__}>\n{_format_tree(self.node)}"

    def _interactive_repr(self) -> str:
        """Execute a bounded preview and render it as a text table
        (reference: xo.options.interactive → ibis's rich table repr;
        ours is plain text honoring the same repr.interactive knobs).

        Fetches ``max_rows + 1`` rows so the footer can say "more rows
        exist" without counting the full result.
        """
        from xorq_spark.config import options

        opts = options.repr.interactive
        df = self.to_spark().limit(opts.max_rows + 1)
        pdf = df.toPandas()
        truncated_rows = len(pdf) > opts.max_rows
        pdf = pdf.iloc[: opts.max_rows]

        cols = list(pdf.columns)
        hidden_cols = 0
        if opts.max_columns is not None and len(cols) > opts.max_columns:
            hidden_cols = len(cols) - opts.max_columns
            cols = cols[: opts.max_columns]

        dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}

        def render(v):
            if v is None:
                return "NULL"
            s = str(v)
            if len(s) > opts.max_string:
                s = s[: opts.max_string - 1] + "…"
            return s

        table = [[render(v) for v in pdf[c]] for c in cols]
        headers = [str(c) for c in cols]
        typerow = [dtypes.get(c, "") for c in cols] if opts.show_types else None
        widths = [
            max(
                len(h),
                len(typerow[i]) if typerow else 0,
                *(len(v) for v in table[i] or [""]),
            )
            for i, h in enumerate(headers)
        ]

        def line(cells):
            return "│ " + " │ ".join(c.ljust(w) for c, w in zip(cells, widths)) + " │"

        sep = "├─" + "─┼─".join("─" * w for w in widths) + "─┤"
        top = "┌─" + "─┬─".join("─" * w for w in widths) + "─┐"
        bot = "└─" + "─┴─".join("─" * w for w in widths) + "─┘"
        out = [top, line(headers)]
        if typerow:
            out.append(line(typerow))
        out.append(sep)
        for r in range(len(pdf)):
            out.append(line([table[i][r] for i in range(len(cols))]))
        out.append(bot)
        footer = []
        if truncated_rows:
            footer.append(f"… more rows (showing {opts.max_rows})")
        if hidden_cols:
            footer.append(f"… {hidden_cols} more columns")
        if footer:
            out.append("  ".join(footer))
        return "\n".join(out)

    # --- schema / introspection -------------------------------------------
    @property
    def columns(self) -> list:
        return self.to_spark().columns

    def schema(self):
        return self.to_spark().schema

    def explain(self, mode: str = "formatted") -> None:
        self.to_spark().explain(mode)

    @property
    def ls(self) -> "LsAccessor":
        return LsAccessor(self)

    def _expand_selectors(self, args, kwargs):
        """Expand Selector / Across / IfAnyAll arguments against this
        expression's schema (driver-side only; the resulting plan is
        identical to hand-listing the columns)."""
        from xorq_spark.expr.selectors import Selector, Across, IfAnyAll

        if not any(isinstance(a, (Selector, Across, IfAnyAll)) for a in args):
            return args, kwargs
        out = []
        kw = dict(kwargs)
        for a in args:
            if isinstance(a, Selector):
                out.extend(a.expand(self))
            elif isinstance(a, Across):
                kw.update(a.expand(self))
            elif isinstance(a, IfAnyAll):
                out.append(a.expand(self).alias("_if"))
            else:
                out.append(a)
        return tuple(out), kw

    # --- relational verbs --------------------------------------------------
    def select(self, *args, **kwargs) -> "Expr":
        args, kwargs = self._expand_selectors(args, kwargs)
        return self._wrap(N.Project(self.node, _named_exprs(args, kwargs)))

    def mutate(self, *args, **kwargs) -> "Expr":
        args, kwargs = self._expand_selectors(args, kwargs)
        return self._wrap(N.Project(self.node, _named_exprs(args, kwargs), extend=True))

    def filter(self, *predicates) -> "Expr":
        from xorq_spark.expr.selectors import IfAnyAll

        preds = tuple(
            unwrap(p.expand(self) if isinstance(p, IfAnyAll) else p)
            for p in predicates
        )
        return self._wrap(N.Filter(self.node, preds))

    def drop(self, *columns: str) -> "Expr":
        return self._wrap(N.Drop(self.node, tuple(columns)))

    def rename(self, mapping: Optional[dict] = None, **kwargs) -> "Expr":
        m = dict(mapping or {})
        m.update(kwargs)
        # reference API is {new: old}; accept both directions via kwargs new=old
        return self._wrap(N.Rename(self.node, tuple((old, new) for new, old in m.items())))

    def order_by(self, *keys) -> "Expr":
        keys, _ = self._expand_selectors(keys, {})
        return self._wrap(N.Sort(self.node, tuple(_as_sortkey(k) for k in keys)))

    def limit(self, n: Optional[int], offset: int = 0) -> "Expr":
        return self._wrap(N.Limit(self.node, n, offset))

    head = limit

    def distinct(self, on=None, keep: str = "first") -> "Expr":
        subset = tuple(on) if on else None
        return self._wrap(N.Distinct(self.node, subset, keep))

    def group_by(self, *keys, **named_keys) -> "GroupedExpr":
        keys, named_keys = self._expand_selectors(keys, named_keys)
        return GroupedExpr(self, _named_exprs(keys, named_keys))

    def aggregate(self, *metrics, **named_metrics) -> "Expr":
        return self._wrap(
            N.Aggregate(self.node, (), _named_exprs(metrics, named_metrics))
        )

    agg = aggregate

    def cube(self, *keys: str) -> "GroupedExpr":
        return GroupedExpr(self, tuple(keys), mode="cube")

    def rollup(self, *keys: str) -> "GroupedExpr":
        return GroupedExpr(self, tuple(keys), mode="rollup")

    def join(
        self,
        right: "Expr",
        predicates=(),
        how: str = "inner",
        *,
        rsuffix: str = "_right",
        on: Optional[str] = None,
        by=(),
        direction: str = "backward",
    ) -> "Expr":
        preds = tuple(
            p if isinstance(p, (str, tuple)) else unwrap(p)
            for p in (predicates if isinstance(predicates, (list, tuple)) else [predicates])
        )
        return self._wrap(
            N.Join(
                self.node, right.node, how, preds,
                on=on, by=tuple(by), direction=direction, rsuffix=rsuffix,
            )
        )

    def asof_join(self, right: "Expr", on: str, by=(), direction: str = "backward") -> "Expr":
        return self.join(right, how="asof", on=on, by=by, direction=direction)

    def cross_join(self, right: "Expr") -> "Expr":
        return self.join(right, how="cross")

    def union(self, other: "Expr", distinct: bool = False) -> "Expr":
        return self._wrap(N.SetOp(self.node, other.node, "union", distinct))

    def intersect(self, other: "Expr", distinct: bool = True) -> "Expr":
        return self._wrap(N.SetOp(self.node, other.node, "intersect", distinct))

    def difference(self, other: "Expr", distinct: bool = True) -> "Expr":
        return self._wrap(N.SetOp(self.node, other.node, "difference", distinct))

    def sample(self, fraction: float, seed: Optional[int] = None) -> "Expr":
        return self._wrap(N.Sample(self.node, fraction, seed))

    def fill_null(self, replacements) -> "Expr":
        if isinstance(replacements, dict):
            repl = tuple(sorted(replacements.items()))
        else:
            repl = (("*", replacements),)
        return self._wrap(N.FillNull(self.node, repl))

    def drop_null(self, subset=None, how: str = "any") -> "Expr":
        return self._wrap(
            N.DropNull(self.node, tuple(subset) if subset else None, how)
        )

    def unnest(self, column: str, offset: bool = False, keep_empty: bool = False) -> "Expr":
        return self._wrap(N.Unnest(self.node, column, offset, keep_empty))

    def sql(self, query: str, alias: Optional[str] = None) -> "Expr":
        alias = alias or getattr(self, "_sql_alias", None) or "t"
        return self._wrap(N.SQLView(self.node, query, alias))

    alias_sql = sql

    def alias(self, name: str) -> "Expr":
        """Name this relation for a later `.sql()` (reference:
        Table.alias, vendor ibis relations.py — `t.alias('x').sql('
        SELECT ... FROM x')`). Implemented as an execution-transparent
        tag carrying the name; `.sql(query)` on the result registers
        the relation under it."""
        out = self.tag("alias", alias_name=name)
        out._sql_alias = name
        return out

    # pandas/older-ibis compatibility spellings
    def dropna(self, subset=None, how: str = "any") -> "Expr":
        return self.drop_null(subset, how)

    def fillna(self, replacements) -> "Expr":
        return self.fill_null(replacements)

    def nunique(self, spark=None) -> int:
        """Count of distinct rows (reference: Table.nunique)."""
        return self.distinct().count(spark)

    def first(self, spark=None):
        """First row as a dict, or None on an empty result."""
        pdf = self.limit(1).execute(spark)
        return None if pdf.empty else pdf.iloc[0].to_dict()

    def preview(self, spark=None, max_rows: int = 10) -> str:
        """The interactive-repr table, on demand (ignores
        options.interactive)."""
        from xorq_spark.config import options as _opts

        old = _opts.repr.interactive.max_rows
        _opts.repr.interactive.max_rows = max_rows
        try:
            return self._interactive_repr()
        finally:
            _opts.repr.interactive.max_rows = old

    def cache(self, strategy: str = "mtime", storage=None) -> "Expr":
        """Materialization boundary. `storage` accepts the
        reference-named flavors (cache.ParquetCache, SourceCache, ...);
        a plain `strategy` string is the native spelling."""
        if storage is not None:
            strategy = storage.strategy
        return self._wrap(N.CachedNode(self.node, strategy))

    def tag(self, name: str, **meta: str) -> "Expr":
        """Annotate the expression with metadata. Execution-transparent
        AND hash-transparent: the tagged expr tokenizes (and therefore
        caches) identically to the untagged one. See `.ls.tags`."""
        kv = tuple(sorted((k, str(v)) for k, v in meta.items()))
        return self._wrap(N.Tag(self.node, name, kv, hashing=False))

    def hashing_tag(self, name: str, **meta: str) -> "Expr":
        """Like tag(), but the annotation participates in tokenization —
        two identical subtrees with different hashing tags get distinct
        cache keys (reference: hashing_tag, types/relations.py:3553)."""
        kv = tuple(sorted((k, str(v)) for k, v in meta.items()))
        return self._wrap(N.Tag(self.node, name, kv, hashing=True))

    def pivot_longer(
        self, cols, names_to: str = "name", values_to: str = "value", ids=None
    ) -> "Expr":
        values = tuple(cols)
        id_cols = tuple(ids) if ids is not None else tuple(
            c for c in self.columns if c not in values
        )
        return self._wrap(N.Unpivot(self.node, id_cols, values, names_to, values_to))

    def pivot_wider(
        self, names_from: str, values_from: str, keys=None, agg: str = "first"
    ) -> "Expr":
        key_cols = tuple(keys) if keys is not None else tuple(
            c for c in self.columns if c not in (names_from, values_from)
        )
        return self._wrap(N.Pivot(self.node, key_cols, names_from, values_from, agg))

    def describe(self, *stats: str) -> "Expr":
        return self._wrap(N.Describe(self.node, tuple(stats)))

    info = describe

    def unpack(self, column: str) -> "Expr":
        return self._wrap(N.Unpack(self.node, column))

    def relocate(self, *cols: str, before: Optional[str] = None, after: Optional[str] = None) -> "Expr":
        current = [c for c in self.columns if c not in cols]
        moved = list(cols)
        if before is not None:
            i = current.index(before)
            order = current[:i] + moved + current[i:]
        elif after is not None:
            i = current.index(after) + 1
            order = current[:i] + moved + current[i:]
        else:
            order = moved + current
        return self.select(*order)

    def topk(self, col: str, k: int = 10, name: str = "count") -> "Expr":
        from xorq_spark.expr.deferred import Func, Lit

        return (
            self.group_by(col)
            .agg(**{name: Deferred(Func("count", (Lit(1),)))})
            .order_by(Deferred(_col(name)).desc())
            .limit(k)
        )

    def window_by(self, time_col: str, size: str, slide: Optional[str] = None) -> "GroupedExpr":
        """Tumbling/hopping time-window grouping (reference: window_by,
        temporal_windows.py:21-94) -> groupBy(F.window(...)); the same
        construct Structured Streaming uses, so plans port to streams."""
        from xorq_spark.expr.deferred import Func

        args = (_col(time_col), size) if slide is None else (_col(time_col), size, slide)
        return GroupedExpr(self, (("window", Func("window", args)),))

    def value_counts(self, *cols: str) -> "Expr":
        keys = tuple((c, _col(c)) for c in cols)
        from xorq_spark.expr.deferred import Func, Lit

        return self._wrap(
            N.Aggregate(
                self.node, keys,
                ((f"{'_'.join(cols)}_count", Func("count", (Lit(1),))),),
            )
        )

    # --- execution (reference: expr/api.py:294,589-779) -------------------
    def pipe(self, fn, *args, **kwargs):
        """Apply `fn(self, *args, **kwargs)` — fluent composition of
        user transforms (reference: ibis Table.pipe)."""
        return fn(self, *args, **kwargs)

    def execute(self, spark=None, params=None, bindings=None):
        """Run and return a pandas DataFrame."""
        return self.to_spark(spark, params, bindings).toPandas()

    to_pandas = execute  # reference spelling: Table.to_pandas

    def to_pyarrow(self, spark=None, params=None, bindings=None):
        df = self.to_spark(spark, params, bindings)
        return df.toArrow()

    def to_sql(self, params=None) -> str:
        """Compile to Spark SQL text (session-free; see sql_compile.py).
        Raises SqlCompileError for non-SQL nodes (python UDFs, pivot,
        asof/positional joins)."""
        from xorq_spark.sql_compile import to_sql

        return to_sql(self, params=params)

    def to_pyarrow_batches(self, spark=None, params=None, bindings=None, chunk_size: int = 1_000_000):
        tbl = self.to_pyarrow(spark, params, bindings)
        return tbl.to_reader(max_chunksize=chunk_size)

    def count(self, spark=None) -> int:
        return self.to_spark(spark).count()

    def to_parquet(
        self, path: str, spark=None, params=None, mode: str = "overwrite",
        partition_by=None, **options,
    ):
        """Parquet sink. `partition_by` writes hive-style partition dirs
        — the layout that makes downstream partition pruning free."""
        w = self.to_spark(spark, params).write.mode(mode).options(**options)
        if partition_by:
            w = w.partitionBy(*(
                [partition_by] if isinstance(partition_by, str) else list(partition_by)
            ))
        w.parquet(path)

    def to_csv(self, path: str, spark=None, params=None, mode: str = "overwrite", **options):
        options.setdefault("header", "true")
        self.to_spark(spark, params).write.mode(mode).options(**options).csv(path)

    def to_json(self, path: str, spark=None, params=None, mode: str = "overwrite", **options):
        self.to_spark(spark, params).write.mode(mode).options(**options).json(path)

    def to_orc(
        self, path: str, spark=None, params=None, mode: str = "overwrite",
        partition_by=None, **options,
    ):
        """ORC sink (columnar; same partition-pruning layout story as
        to_parquet)."""
        w = self.to_spark(spark, params).write.mode(mode).options(**options)
        if partition_by:
            w = w.partitionBy(*(
                [partition_by] if isinstance(partition_by, str) else list(partition_by)
            ))
        w.orc(path)

    def to_delta(
        self, path: str, spark=None, params=None, mode: str = "append",
        partition_by=(),
    ) -> int:
        """Delta Lake sink via the built-in protocol-v1 writer
        (delta.py write_delta): distributed parquet data write + one
        atomic log commit. Returns the committed version. Pairs with
        `read_delta` for snapshot-isolated, time-travelable round
        trips without delta-spark."""
        from xorq_spark.delta import write_delta

        return write_delta(self.to_spark(spark, params), path, mode, partition_by)

    def create_table(self, name: str, spark=None, overwrite: bool = True):
        w = self.to_spark(spark).write
        (w.mode("overwrite") if overwrite else w).saveAsTable(name)

    def into_backend(self, con=None, name: Optional[str] = None):
        """Move this expression's result into another engine via Arrow
        (reference: into_backend, expr/relations.py:430). DuckDB and
        sqlite connections are first-class; `con=None` is a
        Spark-internal cache barrier."""
        from xorq_spark.interop import into_backend

        return into_backend(self, con, name)

    def tee(self, path: str, spark=None, mode: str = "overwrite") -> "Expr":
        """Write-through: land this result at `path` exactly once and
        return an expression reading it back (reference: Table.tee,
        vendor ibis relations.py:3427; writes/write_through.py)."""
        from xorq_spark.writes import tee as _tee

        return _tee(self, path, spark, mode)

    def view(self) -> "Expr":
        """A self-reference: the same data as a DISTINCT relation, so a
        self-join's two sides stay distinguishable (reference:
        Table.view, vendor ibis relations.py:191). Implemented as a
        hashing tag with a fresh id — execution-transparent, but a new
        node identity (and cache token, correctly: a view is a distinct
        reference)."""
        import uuid as _uuid

        return self.hashing_tag("view", id=_uuid.uuid4().hex)


class GroupedExpr:
    def __init__(self, parent: Expr, keys, mode: str = "groupby", having=()):
        self.parent, self.keys, self.mode = parent, keys, mode
        self._having = tuple(having)

    def having(self, *predicates) -> "GroupedExpr":
        """Group-level filter on aggregate expressions (reference:
        GroupedTable.having, vendor ibis groupby.py) — e.g.
        `t.group_by('k').having(_.v.max() > 5).agg(n=_.v.count())`.
        Predicates are evaluated as extra aggregates per group and the
        groups failing any are dropped after aggregation."""
        return GroupedExpr(
            self.parent, self.keys, self.mode, self._having + tuple(predicates)
        )

    def aggregate(self, *metrics, **named_metrics) -> Expr:
        m = _named_exprs(metrics, named_metrics)
        if self._having:
            hidden = {
                f"__having_{i}": unwrap(p) for i, p in enumerate(self._having)
            }
            m_all = m + tuple(hidden.items())
            out = self.parent._wrap(
                N.Aggregate(self.parent.node, self.keys, m_all)
            )
            for name in hidden:
                out = out.filter(Deferred(_VCol(name)))
            return out.drop(*hidden)
        if self.mode in ("cube", "rollup"):
            return self.parent._wrap(
                N.GroupingSetsAgg(self.parent.node, self.keys, m, self.mode)
            )
        return self.parent._wrap(N.Aggregate(self.parent.node, self.keys, m))

    agg = aggregate

    def mutate(self, *metrics, **named_metrics) -> Expr:
        """Grouped mutate (reference: GroupedTable.mutate): each metric
        becomes a window aggregate partitioned by the group keys,
        broadcast back onto every row — no join, one window shuffle."""
        group_cols = tuple(Deferred(vnode) for _name, vnode in self.keys)
        named = dict(_named_exprs(metrics, named_metrics))
        windowed = {
            name: Deferred(vnode).over(group_by=group_cols)
            for name, vnode in named.items()
        }
        return self.parent.mutate(**windowed)

    def count(self, name: str = "count") -> Expr:
        from xorq_spark.expr.deferred import Func, Lit

        return self.agg(**{name: Deferred(Func("count", (Lit(1),)))})

    size = count


class LsAccessor:
    """Introspection accessor (reference: LETSQLAccessor,
    vendor/ibis/expr/types/core.py:1002)."""

    def __init__(self, expr: Expr):
        self.expr = expr

    @property
    def cached_nodes(self) -> tuple:
        return tuple(n for n in N.walk(self.expr.node) if isinstance(n, N.CachedNode))

    @property
    def tags(self) -> tuple:
        """All Tag annotations in the tree, outermost first (reference:
        .ls.tags, vendor/ibis/expr/types/core.py:1099)."""
        return tuple(n for n in N.walk(self.expr.node) if isinstance(n, N.Tag))

    @property
    def tokenized(self) -> str:
        from xorq_spark.tokenize import tokenize

        return tokenize(self.expr.node)

    @property
    def uncached(self) -> Expr:
        return Expr(_strip_cache(self.expr.node), self.expr._spark)

    @property
    def source_nodes(self) -> tuple:
        return tuple(
            n for n in N.walk(self.expr.node)
            if isinstance(n, (N.ReadParquet, N.ReadCSV, N.ReadJSON, N.ReadORC, N.Memtable, N.TableRef, N.UnboundTable))
        )

    @property
    def backends(self) -> tuple:
        """Engines this expression touches (reference: .ls.backends,
        vendor ibis core.py:1130). One Spark engine executes the whole
        tree here, so this is the bound session (or the default marker
        when unbound) — federation to DuckDB/sqlite/pandas happens
        through into_backend materialization, outside the tree."""
        bound = self.expr._spark
        return (bound,) if bound is not None else ("default-spark",)

    @property
    def is_multiengine(self) -> bool:
        """Always False on this engine (reference: .ls.is_multiengine):
        one Catalyst plan executes every node — the property exists so
        reference code probing it keeps working."""
        return False


def _strip_cache(node: N.RNode) -> N.RNode:
    from dataclasses import fields, replace

    if isinstance(node, (N.CachedNode, N.CacheTag)):
        return _strip_cache(node.parent)
    changes = {}
    for f_ in fields(node):
        v = getattr(node, f_.name)
        if isinstance(v, N.RNode):
            nv = _strip_cache(v)
            if nv is not v:
                changes[f_.name] = nv
    return replace(node, **changes) if changes else node


def _bind_tree_params(node: N.RNode, params: dict) -> N.RNode:
    """Apply bind_params to every VNode embedded in the relation tree."""
    from dataclasses import fields, replace

    changes = {}
    for f_ in fields(node):
        v = getattr(node, f_.name)
        if isinstance(v, N.RNode):
            nv = _bind_tree_params(v, params)
            if nv is not v:
                changes[f_.name] = nv
        elif isinstance(v, VNode):
            nv = bind_params(v, params)
            if nv is not v:
                changes[f_.name] = nv
        elif isinstance(v, tuple):
            nv = _bind_tuple(v, params)
            if nv != v:
                changes[f_.name] = nv
    return replace(node, **changes) if changes else node


def _bind_tuple(v: tuple, params: dict) -> tuple:
    out = []
    for x in v:
        if isinstance(x, VNode):
            out.append(bind_params(x, params))
        elif isinstance(x, tuple):
            out.append(_bind_tuple(x, params))
        else:
            out.append(x)
    return tuple(out)


def _format_tree(node: N.RNode, depth: int = 0) -> str:
    pad = "  " * depth
    line = pad + type(node).__name__
    kids = N.children(node)
    return "\n".join([line] + [_format_tree(c, depth + 1) for c in kids])
