"""Scale-adaptive parallelism helpers.

``widen(df)`` rebalances an under-parallel file scan to cluster
parallelism before a compute-bound narrow pipeline (hashing,
tokenization, codec work): a small parquet file scans as ONE input
split, serializing per-row compute on a single core no matter how many
are free. At real data sizes the scan already produces >= cluster-width
splits and the rebalance must be (and is) a plan no-op — an
unconditional ``repartition(defaultParallelism)`` would shuffle every
projected row at 100 TB.

The under-parallel test derives the split count from the scan's FILE
SIZES (``scan_splits``), mirroring Spark's own FilePartition packing,
instead of probing ``df.rdd.getNumPartitions()``: the RDD probe forces
a physical-planning pass per call, and under AQE an exchange-bearing
plan EXECUTES its upstream stages eagerly at probe time while the later
action re-executes them (no cross-execution exchange reuse) — paying
the whole upstream pipeline twice. Inputs that are not statable file
scans (remote schemes, checkpointed/derived RDD frames) are treated as
already-wide: the scale-safe default, and exactly the inputs the RDD
probe mishandled.

``fitted_shuffle(spark, rows, rows_per_partition)`` is the other
direction: it narrows the shuffles of an iterative operator's rounds to
a measured row count, for the scope of those rounds.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame

from xorq_spark.session import scoped_conf


def _conf_bytes(spark, key: str, default: int) -> int:
    try:
        v = spark.conf.get(key)
    except Exception:
        return default
    if v is None:
        return default
    v = str(v).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    try:
        if v.endswith("b") and len(v) > 1 and v[-2] in units:
            return int(float(v[:-2]) * units[v[-2]])
        if v and v[-1] in units:
            return int(float(v[:-1]) * units[v[-1]])
        return int(v)
    except ValueError:
        return default


def _local_file_sizes(df: DataFrame) -> Optional[list]:
    """On-disk sizes of ``df``'s input files, or ``None`` when the input
    is not a locally statable file scan (no files, a non-``file:`` URI,
    or a file that cannot be statted)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        if f.startswith("file:"):
            path = f[5:]
            # normalize file:///p and file:/p to /p
            while path.startswith("//"):
                path = path[1:]
        elif "://" in f:
            return None
        else:
            path = f
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    return sizes


def scan_splits(df: DataFrame) -> Optional[int]:
    """Estimated input-split count of ``df``'s underlying file scan(s),
    computed from file sizes with Spark's FilePartition math (split
    large files at maxSplitBytes, charge openCostInBytes per file, pack
    pieces descending, close a partition at maxSplitBytes). Returns
    ``None`` when the input is not a locally statable file scan —
    callers must treat that as "already wide enough"."""
    sizes = _local_file_sizes(df)
    if sizes is None:
        return None
    spark = df.sparkSession
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)
    try:
        min_pn = int(spark.conf.get("spark.sql.files.minPartitionNum"))
    except Exception:
        min_pn = 0
    if not min_pn:
        try:
            min_pn = int(spark.conf.get("spark.sql.leafNodeDefaultParallelism"))
        except Exception:
            min_pn = 0
    if not min_pn:
        min_pn = spark.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, total // max(min_pn, 1)))
    max_split = max(max_split, 1)
    pieces = []
    for sz in sizes:
        full, rem = divmod(sz, max_split)
        pieces.extend([max_split] * full)
        if rem or sz == 0:
            pieces.append(rem)
    pieces.sort(reverse=True)
    n, cur = 0, 0
    for p in pieces:
        charged = p + open_cost
        if cur + charged > max_split and cur > 0:
            n += 1
            cur = 0
        cur += charged
    if cur > 0:
        n += 1
    return max(n, 1)


def scan_bytes(df: DataFrame) -> Optional[int]:
    """Total on-disk bytes of ``df``'s underlying file scan(s), or
    ``None`` when the input is not a locally statable file scan.
    Used to gate materialization decisions (e.g. pinning a projected
    fact table) on a byte budget instead of engaging unconditionally."""
    sizes = _local_file_sizes(df)
    return None if sizes is None else sum(sizes)


def widen(df: DataFrame, parallelism: Optional[int] = None) -> DataFrame:
    """Repartition an under-parallel file scan to cluster parallelism;
    a plan no-op whenever the scan already produces that many splits
    (the normal case at real data sizes) or the input's split count
    cannot be derived from local file sizes (derived/remote inputs —
    assumed wide, the scale-safe default). Row-preserving."""
    par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    n = scan_splits(df)
    if n is None or n >= par:
        return df
    return df.repartition(par)


@contextmanager
def fitted_shuffle(spark, rows: int, rows_per_partition: int):
    """Size the shuffles of an iterative operator's rounds to a MEASURED
    row count: inside the scope ``spark.sql.shuffle.partitions`` is
    ``fit = max(1, min(session width, rows // rows_per_partition + 1))``,
    and the scope yields ``fit`` for explicit ``repartition(fit, ...)``
    calls. At the session's fact-table width a sparse graph's per-round
    stages are mostly empty-task scheduling overhead, and AQE's
    coalescing does not reach across a checkpoint boundary; the clamp
    keeps a large input at the session width. The session conf is put
    back when the scope ends (``session.scoped_conf``). Callers count
    ``rows`` from a frame they have already materialized, so the count
    costs no extra scan, and choose ``rows_per_partition`` from how much
    CPU a round spends per row."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fit = max(1, min(width, rows // rows_per_partition + 1))
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(fit)):
        yield fit
