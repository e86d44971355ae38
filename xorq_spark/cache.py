"""Content-addressed caching: the reference's headline capability
(CachedNode semantics, expr/relations.py:144; Cache strategy x storage,
caching/__init__.py:34) rebuilt over Parquet artifacts.

A `CachedNode(parent, strategy)` in the expression graph is a
materialization boundary. At lowering time (the reference's pass 3,
expr/api.py:229):
  - key = tokenize(parent) under the node's strategy
  - hit  -> the whole parent subtree is replaced by a Parquet scan of
    the artifact (subtree elimination — the biggest "optimization")
  - miss -> parent is lowered, written to the artifact path, and read
    back (so downstream stages scan Parquet, not the live plan)

Strategies (caching/strategy.py:84,90 + ParquetTTLSnapshotCache,
caching/__init__.py:172):
  - "mtime"     key folds source-file mtimes/sizes; data edits invalidate
  - "snapshot"  structure-only key; survives data changes
  - "ttl:<sec>" snapshot key + wall-clock expiry

Not `df.cache()` (session-local memory pin): artifacts persist across
processes and sessions, keyed by plan content. On a cluster the cache
root would be object storage (s3://...); everything here goes through
Spark's Hadoop FS layer via plain paths.

Artifact reads (hit, read-back after a miss, CacheTag) go through the
Parquet schema memo of expr/core.scan_parquet: a schema-less read makes
Spark run a footer-scan job, so the memo keeps the schema Spark inferred,
per session, keyed on the paths, their mtime+size stat tokens and the
session confs Parquet schema inference reads. A repeated read then plans
with no job. This makes the `mtime` strategy's assumption: same mtime and
size, same file. A miss seeds the memo at publish with the written
frame's schema, so the read-back scans no footer either. URI roots
(ObjectStoreCache) and missing paths still infer through Spark.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from xorq_spark.config import options
from xorq_spark.expr import nodes as N
from xorq_spark.tokenize import tokenize


def cache_root() -> str:
    """XORQ_SPARK_CACHE_DIR if set, else
    ``xo.options.cache.default_relative_path`` under the working
    directory."""
    return os.environ.get("XORQ_SPARK_CACHE_DIR") or os.path.join(
        os.getcwd(), options.cache.default_relative_path
    )


def split_strategy(strategy: str) -> tuple:
    """'mtime@gs://bucket/prefix' -> ('mtime', 'gs://bucket/prefix').

    The optional '@<root>' suffix points a CachedNode at an explicit
    artifact root (object store or any Hadoop-FS URI) instead of the
    process-wide cache_root(); the base strategy alone determines the
    content key, so moving a cache between stores never re-keys it."""
    base, _, root = strategy.partition("@")
    return base, (root or None)


def artifact_path(key: str, root: Optional[str] = None) -> str:
    base = root or cache_root()
    return f"{base.rstrip('/')}/{key}.parquet"


def _success_marker(path: str) -> str:
    return f"{path}/_SUCCESS"


def _is_uri(path: str) -> bool:
    return "://" in path


def _hfs(spark, path: str):
    """(Hadoop FileSystem, Path) for a URI — the same FS layer Spark's
    own reads/writes go through, so whatever store the cluster can scan
    (gs://, s3a://, hdfs://, file://) the cache can publish to with no
    extra client library."""
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(path)
    return hp.getFileSystem(spark._jsc.hadoopConfiguration()), hp


def _require_spark(spark=None):
    if spark is None:
        from xorq_spark.session import get_spark

        spark = get_spark()
    return spark


def exists(key: str, root: Optional[str] = None, spark=None) -> bool:
    p = _success_marker(artifact_path(key, root))
    if _is_uri(p):
        fs, hp = _hfs(_require_spark(spark), p)
        return bool(fs.exists(hp))
    return os.path.exists(p)


def drop(key: str, root: Optional[str] = None, spark=None) -> None:
    p = artifact_path(key, root)
    if _is_uri(p):
        fs, hp = _hfs(_require_spark(spark), p)
        fs.delete(hp, True)
        return
    if os.path.exists(p):
        shutil.rmtree(p)


def drop_all() -> None:
    if os.path.exists(cache_root()):
        shutil.rmtree(cache_root())


def calc_key(node: N.RNode, strategy: str = "mtime") -> str:
    base, _root = split_strategy(strategy)
    return tokenize(node, base)


def _ttl_seconds(strategy: str) -> Optional[float]:
    if strategy.startswith("ttl:"):
        return float(strategy.split(":", 1)[1])
    return None


def _is_fresh(key: str, strategy: str, spark=None) -> bool:
    base, root = split_strategy(strategy)
    if not exists(key, root, spark):
        return False
    ttl = _ttl_seconds(base)
    if ttl is None:
        return True
    marker = _success_marker(artifact_path(key, root))
    if _is_uri(marker):
        fs, hp = _hfs(_require_spark(spark), marker)
        mtime = fs.getFileStatus(hp).getModificationTime() / 1000.0
    else:
        mtime = os.path.getmtime(marker)
    return time.time() - mtime <= ttl


def lower_cached_node(node: N.CachedNode, spark: SparkSession, bindings) -> DataFrame:
    """get-or-set_default (reference: Cache.set_default,
    caching/__init__.py:34): swap subtree for the artifact on hit,
    materialize on miss."""
    from xorq_spark.expr.core import lower, scan_parquet

    base_strategy, _ = split_strategy(node.strategy)
    if base_strategy == "dummy":
        # ParquetDummySnapshotCache: storage that never persists
        # (reference ParquetDummyStorage) — every lookup misses, so the
        # subtree recomputes; the knob that disables caching without
        # touching the expression.
        return lower(node.parent, spark, bindings)
    if base_strategy.startswith("source"):
        # SourceCache: materialize into the session catalog (managed
        # table) instead of the parquet artifact store — the reference's
        # "cache into the source backend" flavor. The content key names
        # the table, so a changed source yields a fresh table;
        # SourceSnapshotCache keys on structure only (stable across
        # source-data changes).
        key = calc_key(
            node.parent,
            "snapshot" if "snapshot" in base_strategy else "mtime",
        )
        tbl = f"xorq_cache_{key[:16]}"
        if not spark.catalog.tableExists(tbl):
            # A previous SESSION may have left the managed-table
            # location on disk without a catalog entry (saveAsTable
            # refuses to create over it). Same key = same content, so
            # clearing and recomputing is always sound.
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
            if wh.scheme in ("", "file"):
                shutil.rmtree(
                    os.path.join(wh.path, tbl.lower()), ignore_errors=True
                )
            lower(node.parent, spark, bindings).write.mode(
                "overwrite"
            ).saveAsTable(tbl)
        return spark.table(tbl)
    key = calc_key(node.parent, node.strategy)
    _, root = split_strategy(node.strategy)
    path = artifact_path(key, root)
    if not _is_fresh(key, node.strategy, spark):
        df = lower(node.parent, spark, bindings)
        _publish_artifact(df, path)
    return scan_parquet(spark, (path,))


def _publish_artifact(df: DataFrame, path: str) -> None:
    """Materialize to the content-addressed path with an atomic publish.

    Writing the artifact dir in place (mode=overwrite deletes, then
    writes) races concurrent processes sharing one cache root: a reader
    that resolved the same key sees a half-written directory. Instead
    the plan writes to a unique sibling temp dir and a single
    os.rename() publishes it — atomic on POSIX (and one metadata op on
    object stores with directory semantics). Same content key = same
    bytes, so whichever process wins the rename is correct and the
    loser just discards its copy. A stale same-key artifact (TTL
    expiry) is moved aside first; readers mid-scan of the old handle
    are the one inherent TTL race, documented rather than locked."""
    import uuid

    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(tmp)
    if _is_uri(path):
        # object-store / HDFS root: same protocol through the Hadoop FS
        # layer. rename() is atomic on HDFS; on gs:// / s3a:// it is a
        # (fast, server-side) copy — the _SUCCESS check in exists()
        # still gates readers, the window just isn't zero there.
        spark = df.sparkSession
        fs, dst = _hfs(spark, path)
        _, src = _hfs(spark, tmp)
        marker = _hfs(spark, _success_marker(path))[1]
        # An existing dst is either a finished artifact (marker) or
        # debris from a crashed publish — either way clear it: Hadoop
        # rename moves src INTO an existing dst dir (nesting the temp
        # dir inside the artifact) instead of failing.
        if fs.exists(dst):
            fs.delete(dst, True)
        if fs.rename(src, dst):
            # a concurrent winner may have recreated dst between our
            # delete and rename, nesting our temp dir inside theirs —
            # detect by basename and clean up (their artifact is
            # byte-identical, so losing is fine)
            nested = _hfs(spark, f"{path}/{tmp.rsplit('/', 1)[-1]}")[1]
            if fs.exists(nested):
                fs.delete(nested, True)
        else:
            fs.delete(src, True)  # rename refused: winner holds dst
        return
    if os.path.exists(path):
        # finished artifact (marker) or crash debris (no marker): move
        # aside + remove either way — retrying rename over debris would
        # otherwise discard the FRESH tmp and serve the stale partial
        # dir forever
        aside = f"{path}.old-{uuid.uuid4().hex}"
        try:
            os.rename(path, aside)
        except OSError:
            pass
        else:
            shutil.rmtree(aside, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # another process published the same key first — its bytes are
        # identical by construction; drop ours
        shutil.rmtree(tmp, ignore_errors=True)
    # The read-back needs no footer scan: Spark reads a user-given file
    # schema as nullable, so the written frame's schema is exactly what
    # inference would return for the artifact.
    from xorq_spark.expr.core import seed_parquet_schema

    seed_parquet_schema(df.sparkSession, (path,), df.schema)


# --------------------------------------------------------------------------
# reference-named storage flavors (caching/__init__.py __all__): thin
# descriptors that select a CachedNode strategy string; pass to
# Expr.cache(storage=...) for drop-in spelling parity.
# --------------------------------------------------------------------------
class ParquetCache:
    """mtime-keyed parquet artifact store (the default)."""

    strategy = "mtime"


class ParquetSnapshotCache:
    """Structure-only key: ignores source file stats."""

    strategy = "snapshot"


class ParquetTTLSnapshotCache:
    """Snapshot key + age bound."""

    def __init__(self, ttl_seconds: float = 3600.0):
        self.strategy = f"ttl:{ttl_seconds}"


class SourceCache:
    """Materialize into the session catalog (managed table)."""

    strategy = "source"


class SourceSnapshotCache:
    """Catalog table keyed on expression structure only — source-data
    changes do NOT invalidate (reference SourceSnapshotCache)."""

    strategy = "source_snapshot"


class ParquetDummySnapshotCache:
    """Storage that never persists: every lookup misses and the subtree
    recomputes (reference ParquetDummyStorage) — disables caching
    without rewriting the expression."""

    strategy = "dummy"


class ObjectStoreCache:
    """Artifact store on any Hadoop-FS URI root (gs://, s3a://,
    hdfs://, file://) — the cluster deployment shape, where the cache
    must outlive every node's local disk. No extra client library: the
    cache publishes through the same Hadoop FileSystem layer Spark's
    own reads and writes use, so any store the cluster can scan it can
    cache to. file:// exercises the exact code path locally
    (tests/test_cache.py)."""

    def __init__(self, root: str, strategy: str = "mtime"):
        if not _is_uri(root):
            raise ValueError(
                f"ObjectStoreCache root must be a URI (got {root!r}); "
                "plain paths use ParquetCache + XORQ_SPARK_CACHE_DIR"
            )
        self.root = root
        self.strategy = f"{strategy}@{root}"


class GCSCache(ObjectStoreCache):
    """Reference-named GCS flavor (reference caching GCStorage): an
    ObjectStoreCache pinned to a gs:// root. Runtime needs the GCS
    connector on the Spark classpath (standard on Dataproc/GKE images);
    the artifact protocol itself is store-agnostic."""

    def __init__(self, root: str, strategy: str = "mtime"):
        if not root.startswith(("gs://", "gcs://")):
            raise ValueError(f"GCSCache needs a gs:// root, got {root!r}")
        super().__init__(root, strategy)


# --------------------------------------------------------------------------
# pin / unpin (reference: pin_cache/unpin_cache, expr/relations.py:370,400)
# --------------------------------------------------------------------------
class ColdCacheError(RuntimeError):
    """Raised when pinning an unmaterialized cache without
    ensure_materialized (reference: IntegrityError from ls.pin(),
    vendor/ibis/expr/types/core.py + cli.py apply_pin_transform)."""


def pin(expr, ensure_materialized: bool = True):
    """Freeze every CachedNode into a CacheTag: a direct artifact read
    that still carries the original subtree for unpinning. With
    ``ensure_materialized`` (default) missing artifacts are
    materialized now; without it a cold cache raises ColdCacheError —
    the reference CLI's contract (pin freezes what exists; populating
    is `xorq run`'s job unless -e is passed)."""
    from xorq_spark.expr.core import Expr

    def rewrite(n: N.RNode) -> N.RNode:
        n = _rewrite_children(n, rewrite)
        if isinstance(n, N.CachedNode):
            key = calc_key(n.parent, n.strategy)
            _, root = split_strategy(n.strategy)
            if not exists(key, root):
                if not ensure_materialized:
                    raise ColdCacheError(
                        f"cache {key} is not materialized; run the "
                        "expression first or pass ensure_materialized"
                    )
                from xorq_spark.session import get_spark

                lower_cached_node(n, get_spark(), {})
            return N.CacheTag(parent=n.parent, key=key, strategy=n.strategy)
        return n

    return Expr(rewrite(expr.node), expr._spark)


def unpin(expr):
    """CacheTag -> CachedNode (reversible, reference accessor
    vendor/ibis/expr/types/core.py:1068)."""
    from xorq_spark.expr.core import Expr

    def rewrite(n: N.RNode) -> N.RNode:
        n = _rewrite_children(n, rewrite)
        if isinstance(n, N.CacheTag):
            return N.CachedNode(parent=n.parent, strategy=n.strategy)
        return n

    return Expr(rewrite(expr.node), expr._spark)


def _rewrite_children(node: N.RNode, fn):
    import dataclasses

    changes = {}
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        if isinstance(v, N.RNode):
            nv = fn(v)
            if nv is not v:
                changes[f.name] = nv
    return dataclasses.replace(node, **changes) if changes else node
