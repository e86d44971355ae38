"""Cache + tokenizer semantics (reference test model: tests/test_cache.py,
common/utils/tests/test_hash_contract.py — SURVEY §5.3-5.4): hit/miss,
mtime invalidation, snapshot stability, TTL expiry, pin/unpin,
cross-process token stability, the Parquet schema memo."""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import time
import uuid

import pandas as pd
import pytest

import xorq_spark as xo
from xorq_spark import _
from xorq_spark import cache as C
from xorq_spark.tokenize import tokenize


@pytest.fixture(autouse=True)
def cache_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("XORQ_SPARK_CACHE_DIR", str(tmp_path / "cache"))
    yield str(tmp_path / "cache")


@pytest.fixture
def src(tmp_path, spark):
    p = str(tmp_path / "src.parquet")
    pd.DataFrame({"k": [1, 1, 2, 2, 3], "v": [1.0, 2.0, 3.0, 4.0, 5.0]}).to_parquet(p)
    return p


def _expr(path):
    return (
        xo.deferred_read_parquet(path)
        .group_by("k")
        .agg(s=_.v.sum())
    )


def test_token_stability_and_sensitivity(src):
    e = _expr(src)
    t1 = tokenize(e.node)
    t2 = tokenize(_expr(src).node)
    assert t1 == t2  # same pipeline -> same token
    other = _expr(src).filter(_.s > 0)
    assert tokenize(other.node) != t1  # structure change -> new token
    assert tokenize(e.node, "snapshot") != t1  # strategies keyed apart


def test_token_stable_across_processes(src):
    e = _expr(src)
    local = tokenize(e.node)
    code = (
        "import xorq_spark as xo\n"
        "from xorq_spark import _\n"
        "from xorq_spark.tokenize import tokenize\n"
        f"e = xo.deferred_read_parquet({src!r}).group_by('k').agg(s=_.v.sum())\n"
        "print(tokenize(e.node))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == local


def test_cache_hit_and_mtime_invalidation(spark, src):
    e = _expr(src).cache()
    key = C.calc_key(e.node.parent, "mtime")
    assert not C.exists(key)
    r1 = e.execute(spark).sort_values("k")
    assert C.exists(key)  # materialized on miss
    assert r1.s.tolist() == [3.0, 7.0, 5.0]

    # Re-execution hits the artifact: result identical, no rewrite.
    marker = os.path.join(C.artifact_path(key), "_SUCCESS")
    m1 = os.path.getmtime(marker)
    r2 = e.execute(spark).sort_values("k")
    assert r2.s.tolist() == r1.s.tolist()
    assert os.path.getmtime(marker) == m1

    # mtime strategy: new data at the same path -> new key -> recompute.
    pd.DataFrame({"k": [9], "v": [9.0]}).to_parquet(src)
    key2 = C.calc_key(e.node.parent, "mtime")
    assert key2 != key
    r3 = e.execute(spark)
    assert r3.s.tolist() == [9.0]


def test_snapshot_survives_data_change(spark, src):
    e = _expr(src).cache(strategy="snapshot")
    key = C.calc_key(e.node.parent, "snapshot")
    r1 = e.execute(spark).sort_values("k")
    # rewrite the source with different data; snapshot key is unchanged
    pd.DataFrame({"k": [9], "v": [9.0]}).to_parquet(src)
    assert C.calc_key(e.node.parent, "snapshot") == key
    r2 = e.execute(spark).sort_values("k")
    assert r2.s.tolist() == r1.s.tolist()  # stale by design


def test_ttl_expiry(spark, src):
    e = _expr(src).cache(strategy="ttl:0.5")
    e.execute(spark)
    key = C.calc_key(e.node.parent, "ttl:0.5")
    marker = os.path.join(C.artifact_path(key), "_SUCCESS")
    old = os.path.getmtime(marker)
    time.sleep(0.6)
    # expired: re-execution rewrites the artifact
    e.execute(spark)
    assert os.path.getmtime(marker) > old


def test_pin_unpin_roundtrip(spark, src):
    e = _expr(src).cache()
    pinned = C.pin(e)
    from xorq_spark.expr import nodes as N

    assert isinstance(pinned.node, N.CacheTag)
    # pinned expr reads the artifact even after source deleted
    os.remove(src)
    assert pinned.execute(spark).s.sum() == 15.0
    unpinned = C.unpin(pinned)
    assert isinstance(unpinned.node, N.CachedNode)
    assert unpinned.node == e.node


def test_ls_accessor(spark, src):
    e = _expr(src).cache()
    assert len(e.ls.cached_nodes) == 1
    assert isinstance(e.ls.tokenized, str)
    assert len(e.ls.uncached.ls.cached_nodes) == 0
    assert len(e.ls.source_nodes) == 1


def test_reference_named_storage_flavors(spark, src):
    """caching/__init__ parity: the named storage classes select the
    strategy; SourceCache materializes a managed catalog table."""
    assert _expr(src).cache(storage=C.ParquetCache()).node.strategy == "mtime"
    assert (
        _expr(src).cache(storage=C.ParquetSnapshotCache()).node.strategy
        == "snapshot"
    )
    assert _expr(src).cache(
        storage=C.ParquetTTLSnapshotCache(5)
    ).node.strategy == "ttl:5"

    e = _expr(src).cache(storage=C.SourceCache())
    got = e.execute(spark)
    assert got.s.sum() == 15.0
    tables = [t.name for t in spark.catalog.listTables()]
    cache_tables = [t for t in tables if t.startswith("xorq_cache_")]
    assert cache_tables
    # hit path: the managed table itself holds the data (the key is
    # mtime-based, so unlike pin() a deleted source would re-key)
    assert spark.table(cache_tables[0]).count() > 0
    assert e.execute(spark).s.sum() == 15.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="gs://"):
        C.GCSCache("/not/a/uri")
    assert C.GCSCache("gs://bucket/prefix").strategy == "mtime@gs://bucket/prefix"


def test_object_store_cache_file_uri_roundtrip(spark, tmp_path):
    """The URI cache path end to end over file:// (Hadoop
    LocalFileSystem — the same FS layer a gs://\s3a:// root uses):
    miss materializes the artifact under the URI root with an atomic
    publish, hit replays from it without recomputing the subtree."""
    import xorq_spark as xo

    root = f"file://{tmp_path}/store"
    store = C.ObjectStoreCache(root, strategy="snapshot")
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double")
    e = xo.register(spark, df, "obj_cache_src").cache(storage=store)
    out1 = e.execute(spark)
    # artifact landed under the URI root
    key = C.calc_key(e.node.parent, store.strategy)
    assert C.exists(key, root, spark)
    local = str(tmp_path / "store" / f"{key}.parquet")
    import os as _os
    assert _os.path.exists(_os.path.join(local, "_SUCCESS"))
    # hit path: same values come back from the artifact
    out2 = e.execute(spark)
    assert sorted(out1.v) == sorted(out2.v)
    # no stray temp dirs from the publish
    stray = [p for p in _os.listdir(tmp_path / "store") if ".tmp-" in p]
    assert stray == []


def test_publish_replaces_markerless_debris_local(spark, tmp_path):
    """A crashed publish leaves the artifact dir WITHOUT _SUCCESS; the
    next publish must replace the debris with the fresh bytes, not
    discard them and serve the stale partial dir (review regression)."""
    import os as _os

    from xorq_spark.cache import _publish_artifact

    path = str(tmp_path / "k.parquet")
    # fabricate debris: stale rows, no _SUCCESS marker
    spark.range(3).selectExpr("id * 100 as v").write.parquet(path)
    _os.remove(_os.path.join(path, "_SUCCESS"))
    fresh = spark.range(5).selectExpr("id * 2 as v")
    _publish_artifact(fresh, path)
    got = sorted(r["v"] for r in spark.read.parquet(path).collect())
    assert got == [0, 2, 4, 6, 8]
    assert _os.path.exists(_os.path.join(path, "_SUCCESS"))


def test_publish_replaces_markerless_debris_uri(spark, tmp_path):
    """Same debris scenario through the Hadoop-FS URI branch: rename
    into an existing dir must not nest the temp dir inside the
    artifact (review regression)."""
    import os as _os

    from xorq_spark.cache import _publish_artifact

    local = str(tmp_path / "k.parquet")
    spark.range(3).selectExpr("id * 100 as v").write.parquet(local)
    _os.remove(_os.path.join(local, "_SUCCESS"))
    uri = f"file://{local}"
    fresh = spark.range(5).selectExpr("id * 2 as v")
    _publish_artifact(fresh, uri)
    got = sorted(r["v"] for r in spark.read.parquet(uri).collect())
    assert got == [0, 2, 4, 6, 8]
    # nothing nested inside the artifact dir
    nested = [p for p in _os.listdir(local) if ".tmp-" in p]
    assert nested == []


def test_pinned_object_store_cache_reads_uri_root(spark, tmp_path):
    """pin() on an ObjectStoreCache expression must replay from the
    URI root, not the local cache_root (review regression)."""
    import xorq_spark as xo
    from xorq_spark.cache import ObjectStoreCache, pin

    root = f"file://{tmp_path}/store"
    df = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, v double")
    e = xo.register(spark, df, "pin_uri_src").cache(
        storage=ObjectStoreCache(root, strategy="snapshot")
    )
    pinned = pin(e)
    out = pinned.execute(spark)
    assert sorted(out.v) == [5.0, 7.0]


# --------------------------------------------------------------------------
# Parquet schema memo (expr.core.scan_parquet)
# --------------------------------------------------------------------------
@contextlib.contextmanager
def _count_jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo job count")
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _lower(e, spark):
    from xorq_spark.expr.core import lower

    return lower(e.node, spark)


def _memo_keys(spark):
    from xorq_spark.expr.core import _SCHEMA_MEMO

    return set(_SCHEMA_MEMO.get(spark, {}))


def test_schema_memo_warm_read_parquet_launches_no_job(spark, src):
    e = xo.read_parquet(src)
    cold = _lower(e, spark)
    with _count_jobs(spark) as jobs:
        warm = _lower(e, spark)
    assert jobs == []
    assert warm.schema == cold.schema == spark.read.parquet(src).schema
    assert sorted(r["k"] for r in warm.collect()) == [1, 1, 2, 2, 3]


def test_schema_memo_cache_hit_and_miss_readback(spark, src):
    """A miss runs its write and nothing else before the action (the
    read-back uses the schema seeded at publish); a hit launches no job
    until the action."""
    e = xo.read_parquet(src).filter(_.v > 1.5).cache()
    _lower(xo.read_parquet(src), spark)  # warm the source's schema
    key = C.calc_key(e.node.parent, "mtime")
    assert not C.exists(key)
    with _count_jobs(spark) as miss_jobs:
        miss = _lower(e, spark)
    assert C.exists(key)
    assert len(miss_jobs) == 1  # the artifact write
    with _count_jobs(spark) as hit_jobs:
        hit = _lower(e, spark)
    assert hit_jobs == []
    assert hit.schema == miss.schema == spark.read.parquet(C.artifact_path(key)).schema
    assert sorted(r["v"] for r in hit.collect()) == [2.0, 3.0, 4.0, 5.0]


def test_schema_memo_pinned_cache_tag_launches_no_job(spark, src):
    pinned = C.pin(xo.read_parquet(src).group_by("k").agg(s=_.v.sum()).cache())
    _lower(pinned, spark)
    with _count_jobs(spark) as jobs:
        df = _lower(pinned, spark)
    assert jobs == []
    assert sum(r["s"] for r in df.collect()) == 15.0


def test_schema_memo_sees_rewritten_file(spark, src):
    e = xo.read_parquet(src)
    assert _lower(e, spark).columns == ["k", "v"]
    pd.DataFrame({"k": [1], "v": [1.0], "w": ["new"]}).to_parquet(src)
    df = _lower(e, spark)
    assert df.columns == ["k", "v", "w"]
    assert df.schema == spark.read.parquet(src).schema
    assert [tuple(r) for r in df.collect()] == [(1, 1.0, "new")]


def test_schema_memo_follows_nanos_as_long_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) column infers as bigint or fails, depending on
    spark.sql.legacy.parquet.nanosAsLong; the memo must give the same
    outcome as a plain read on every toggle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), p, version="2.6")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)

    def outcome(read):
        try:
            return ("ok", read().dtypes)
        except Exception as exc:  # noqa: BLE001 — the error is the outcome
            return ("error", type(exc).__name__)

    e = xo.read_parquet(p)
    seen = []
    try:
        for flag in ("true", "false", "true", "false"):
            spark.conf.set(conf, flag)
            want = outcome(lambda: spark.read.parquet(p))
            for _attempt in range(2):
                assert outcome(lambda: _lower(e, spark)) == want
            seen.append(want[0])
    finally:
        spark.conf.set(conf, before)
    assert seen == ["ok", "error", "ok", "error"]


def test_schema_memo_steps_aside_for_uri_and_missing_paths(spark, tmp_path):
    from pyspark.errors import AnalysisException

    # file:// ObjectStoreCache root: miss and hit infer through Spark
    root = f"file://{tmp_path}/store"
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double")
    e = xo.register(spark, df, "memo_uri_src").cache(
        storage=C.ObjectStoreCache(root, strategy="snapshot")
    )
    assert sorted(e.execute(spark).v) == sorted(e.execute(spark).v) == [2.0, 3.0]
    assert not any("://" in p for paths in _memo_keys(spark) for p in paths)

    # a missing path keeps Spark's own error and leaves no entry
    missing = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as memo:
        _lower(xo.read_parquet(missing), spark)
    assert memo.value.getCondition() == plain.value.getCondition()
    assert (missing,) not in _memo_keys(spark)


def test_schema_memo_forgets_a_read_raced_by_a_change(spark, src, monkeypatch):
    """A file or conf that changes while Spark infers must not be
    remembered under the fingerprint taken before the inference."""
    import xorq_spark.expr.core as core

    stats = iter(["before", "after"])
    monkeypatch.setattr(core, "stat_token", lambda p: next(stats))
    assert core.scan_parquet(spark, (src,)).columns == ["k", "v"]
    assert (src,) not in _memo_keys(spark)


def test_schema_memo_shared_by_concurrent_readers(spark, tmp_path):
    """Flight serves requests on several threads that share the memo:
    readers starting cold on the same paths all get Spark's schema and
    leave one entry per path."""
    import threading

    from xorq_spark.expr.core import scan_parquet

    paths = [str(tmp_path / f"t{i}.parquet") for i in range(2)]
    pd.DataFrame({"k": [1]}).to_parquet(paths[0])
    pd.DataFrame({"k": [1], "w": ["x"]}).to_parquet(paths[1])
    want = {p: spark.read.parquet(p).schema for p in paths}
    got, errors = [], []

    def reader(p):
        try:
            for _ in range(5):
                got.append((p, scan_parquet(spark, (p,)).schema))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=reader, args=(paths[i % 2],)) for i in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 40 and all(schema == want[p] for p, schema in got)
    assert {(p,) for p in paths} <= _memo_keys(spark)


def test_seeded_schema_equals_inferred_artifact_schema(spark, tmp_path):
    """_publish_artifact seeds the memo with the written frame's schema.
    That is sound only because Spark reads a user-given file schema as
    nullable: a non-null count column must come back exactly as
    inference would return it."""
    from pyspark.sql import functions as F

    from xorq_spark.expr.core import _SCHEMA_MEMO, scan_parquet

    df = (
        spark.range(10)
        .groupBy((F.col("id") % 3).alias("k"))
        .agg(F.count("id").alias("n"), F.struct(F.max("id").alias("m")).alias("s"))
    )
    assert not df.schema["n"].nullable
    path = str(tmp_path / "artifact.parquet")
    C._publish_artifact(df, path)
    inferred = spark.read.parquet(path).schema
    seeded = _SCHEMA_MEMO[spark][(path,)][1]
    assert seeded == df.schema
    assert spark.read.schema(seeded).parquet(path).schema == inferred
    with _count_jobs(spark) as jobs:
        read_back = scan_parquet(spark, (path,))
    assert jobs == []
    assert read_back.schema == inferred
