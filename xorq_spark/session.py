"""SparkSession management.

Mirrors the role of xorq's ``xo.connect()`` (reference:
python/xorq/expr/api.py:97-137 — lazily-created default backend): one
process-wide lazily created SparkSession configured for analytic
workloads. Tests and the driver may hand us an existing session via
``connect(spark=...)``.

Scale notes: every config here is chosen for cluster-scale behavior —
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow transport for any Python boundary, and shuffle partitions sized by
``XORQ_SPARK_SHUFFLE_PARTITIONS`` (defaults to local core count; on a
real cluster set it ~2-3x total executor cores or rely on AQE coalesce).

Python workers: PySpark calls ``importlib.invalidate_caches()`` at the
start of every Python task, and on Python 3.11 each ``zipimporter`` then
re-reads its archive's central directory — 16 importers over the
3.5 MB, 1,328-entry ``pyspark.zip``, 0.17-0.27 CPU-s and about 2.5 MB
read per task before any user code runs. On local masters the session
starts Spark's workers from ``xorq_spark.pyworker``, a daemon that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
changed since that importer last read it (the ``mtime`` cache
strategy's assumption: same inode, size and mtime means same file), so
a reused worker pays the read once. A zip added later with
``addPyFile`` or rewritten in place is still picked up. The daemon is
set only when the workers can import this package (its parent
directory is the working directory, on PYTHONPATH or in site-packages);
a daemon that fails to import would break every Python UDF. Cluster
deployments that ship the package to executors opt in by setting
``spark.python.daemon.module=xorq_spark.pyworker`` themselves.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

_active: Optional[SparkSession] = None


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def _fast_local_dir(master: Optional[str] = None) -> str:
    """Scratch dir for shuffle/checkpoint blocks: XORQ_SPARK_LOCAL_DIR
    if set (empty string = leave Spark's default), else tmpfs when the
    host has one AND the master is local[*], else '' (Spark default).

    The tmpfs default is gated on local mode (round 10): on a real
    cluster /dev/shm exists too but is RAM-bounded (typically half of
    memory) — at 100 TB shuffle volumes it would fill and fail the
    stage while silently competing with executor memory. Cluster
    deployments point spark.local.dir at their NVMe scratch mount as
    usual, or opt IN via XORQ_SPARK_LOCAL_DIR."""
    env = os.environ.get("XORQ_SPARK_LOCAL_DIR")
    if env is not None:
        return env
    if master is not None and not master.startswith("local"):
        return ""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "xorq_spark_local")
    return ""


def _workers_import_package() -> bool:
    """Whether a Spark Python worker launched from here can import
    xorq_spark: the package's parent directory is the working directory
    (``python -m`` puts it on ``sys.path``), on PYTHONPATH, or in the
    interpreter's site-packages."""
    import site

    parent = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages()]
    return any(os.path.realpath(r) == parent for r in roots if r)


def options(master: Optional[str] = None) -> dict:
    """Session conf applied at connect() time (all safe at 100 TB scale):
    the portable analytic conf plus the host-gated entries for `master`
    (tmpfs scratch, worker daemon). `master` defaults to
    XORQ_SPARK_MASTER or local mode, matching connect()."""
    if master is None:
        master = os.environ.get(
            "XORQ_SPARK_MASTER", f"local[{_default_parallelism()}]"
        )
    return {**analytic_options(), **_host_options(master)}


def analytic_options() -> dict:
    """The portable part of options(): what a build's profile.yaml
    records. Each value is overridden through the Spark conf itself
    (connect(extra_conf=...) or SessionConfig), applied after these."""
    par = _default_parallelism()
    shuffle = os.environ.get("XORQ_SPARK_SHUFFLE_PARTITIONS", str(max(par, 32)))
    return {
        # Adaptive execution: runtime shuffle-partition coalescing,
        # skew-join splitting, and join-strategy demotion/promotion.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE coalesce floor: with parallelismFirst (default true) the
        # post-shuffle target size is total/defaultParallelism clamped
        # to this minimum. The 1 MiB default is a BYTES heuristic that
        # serializes CPU-dense stages whose rows are small (graph
        # adjacency intersects, tokenize pipelines, codec frames):
        # measured at sf0.1, the triangle-close stage ran 6.9 CPU-s on
        # 10 tasks with 32 cores idle. 256 KiB lets such stages widen
        # to cluster parallelism; at real corpus sizes partition counts
        # are advisory-size-bound long before this floor matters, so
        # the only regime it changes is an underutilized cluster —
        # exactly where wider is right. Interleaved A/B (same session,
        # alternating): triangle 4.32->3.53, stem_vocab 1.65->1.06,
        # hdr 3.11->2.85, mmr 2.31->2.09, nb_classifier 1.82->1.64,
        # bitext 2.60->2.42; scheduling-bound iterative operators pin
        # their own width (pagerank/LPA/kcore measured-fit) and are
        # unaffected. Override the conf through extra_conf/SessionConfig.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "262144",
        "spark.sql.shuffle.partitions": shuffle,
        # Arrow everywhere Python touches data (pandas UDFs, toPandas).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Deterministic timezone semantics for oracle parity.
        "spark.sql.session.timeZone": "UTC",
        # Parquet scans: vectorized reader + pushdown are defaults, keep
        # explicit so a misconfigured cluster can't silently regress.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # 128 MiB split size — the right default for large files on HDFS/S3.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Broadcast threshold: AQE will also convert at runtime; static
        # 64 MiB keeps dim-table joins (region/nation/part) broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Allow shuffled-hash joins when the planner's size conditions
        # hold (guide §3.1/§9): a hash build beats sort-merge's double
        # sort whenever one side is modestly small per partition, and
        # the planner falls back to sort-merge when estimates exceed
        # its build bound — measured on the SMJ-heavy headline queries
        # (triangle counts 5.7->4.3s, incremental refresh 1.43->1.13s,
        # snapshot diff interleaved A/B, consistent in both orders).
        # The AQE threshold additionally converts a sort-merge join to
        # shuffled-hash at runtime only when EVERY post-shuffle
        # partition is under 64 MiB — a per-partition bound that stays
        # safe at any corpus size. On clusters where executor memory
        # per task is tight, set this conf to "true" through
        # extra_conf/SessionConfig.
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
        # Sort-based shuffle writer for every shuffle wider than 8
        # partitions: the bypass writer (default threshold 200) opens
        # one file PER REDUCE PARTITION per map task — jstack sampling
        # during the graph/dedup tier showed executor threads parked in
        # DiskBlockObjectWriter.open / FileOutputStream.open0 (44/150
        # busy samples). The sort writer emits one data+index file per
        # map task. Alternating-session A/B (tmpfs scratch in both):
        # line_dedup 0.91->0.67s, triangle -9%, minhash pairs -11%,
        # hdr/LPA flat. At scale M*R tiny files is exactly the shuffle
        # pathology guide §2.2 warns about — fewer, larger files is the
        # right default at any size. Override the conf through
        # extra_conf/SessionConfig.
        "spark.shuffle.sort.bypassMergeThreshold": "8",
        # Bound the SQL UI status store's driver-heap footprint (guide
        # §5: the driver should do almost no data work — and no
        # unbounded bookkeeping either). Each tracked execution stores
        # its physicalPlanDescription string; maxPlanStringLength
        # defaults to ~2 GiB, so one statically-compiled iterative plan
        # (graph rounds) can make the appStatus listener build a
        # multi-hundred-MB string, and the default 1000 retained
        # executions keep them all alive. A long-lived session running
        # hundreds of queries (the oracle sweep; any production driver
        # loop) OOM'd a default-sized driver exactly there. 4 MiB per
        # plan is still far beyond what explain() artifacts need.
        # Override either conf through extra_conf/SessionConfig.
        "spark.sql.maxPlanStringLength": "4194304",
        "spark.sql.ui.retainedExecutions": "100",
        # Generated-class cache: the default 100 entries thrashes on
        # multi-round iterative plans (MMR's 4 unrolled rounds alone
        # mint ~150 classes), forcing a full Janino recompile of every
        # stage on EVERY run — measured 151 -> 4 compiles per run and
        # 16 s -> 1.7 s warm on the permutation test by raising it.
        # Cost is bounded driver memory (~KBs per cached class).
        "spark.sql.codegen.cache.maxEntries": "5000",
        # PySpark call-site capture: while on (the default), every
        # pyspark.sql.functions / Column call walks the Python stack and
        # makes ~7 extra py4j round trips (active session, a conf read,
        # PySparkCurrentOrigin set/clear) to record a frame that here is
        # the library's own lowering code, not the user's. Measured on
        # vs off (sf0.01, warm, second build): lowering the serve
        # workload's orders_by_segment join 266 -> 116 py4j commands
        # (272 -> 154 ms), building agg_bootstrap_ci 418 -> 218
        # (343 -> 167 ms). PySpark reads the conf once per process. Set
        # it to "true" through extra_conf/SessionConfig to get DataFrame
        # error contexts back.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }


def _host_options(master: str) -> dict:
    """The host-gated part of options(), recomputed for each connect()'s
    master and never recorded in a build profile: a value right for
    this host (a tmpfs path, an importable worker module) can be wrong
    on the cluster a build later runs on."""
    local_dir = _fast_local_dir(master)
    return {
        # Shuffle + block-store scratch on the fastest local storage
        # available (guide §2.1: local disk bandwidth for shuffle files
        # can be the tighter limit). On clusters this is the NVMe/SSD
        # mount ops point spark.local.dir at; on the measurement host
        # /tmp was a disk-backed fs and /dev/shm tmpfs — alternating-
        # session A/B (base vs tmpfs, 2 sessions each): line_dedup
        # 1.42->0.89s, minhash pairs 0.98->0.81s, hdr 2.26->1.92s, triangle
        # 3.16->2.82s, LPA 2.51->2.26s. Overridable (or disabled) via
        # XORQ_SPARK_LOCAL_DIR; falls back to the Spark default when
        # /dev/shm is absent. Shuffle volumes here are MBs; a cluster
        # deployment sizes its scratch mount to the workload as usual.
        **({"spark.local.dir": local_dir} if local_dir else {}),
        # Python worker daemon (module docstring). Only for local /
        # local[N] masters (local-cluster executors run in their own
        # work dirs) whose workers can import the package: a daemon
        # that fails to import breaks every Python UDF. extra_conf and
        # SessionConfig values still win; connect() applies them after.
        **(
            {"spark.python.daemon.module": "xorq_spark.pyworker"}
            if master.split("[")[0] == "local" and _workers_import_package()
            else {}
        ),
    }


from contextlib import contextmanager


@contextmanager
def static_compile(spark):
    """Compile a bounded subplan with AQE OFF (guide §1.2 order note:
    config after algorithm). Under AQE every exchange becomes its own
    query-stage JOB; when a section's frames are bounded/hand-
    partitioned by construction, runtime re-planning contributes only
    per-stage driver round-trips (pagerank profiled as 36 sequential
    micro-jobs). A lazy localCheckpoint created inside this scope
    freezes the statically-compiled RDD chain, so the later action
    executes it as ONE job chain. Scope sections ONLY where every
    frame is bounded or already partition-fitted; leave scans and
    data-sized joins under AQE (skew split / coalesce)."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        yield
    finally:
        spark.conf.set(key, old)


class SessionConfig:
    """Named bundle of session conf overrides (reference: SessionConfig,
    internal.py — DataFusion's session config object passed to
    xo.connect). `.with_config(k, v)` chains, like the original."""

    def __init__(self, conf: Optional[dict] = None):
        self.conf = dict(conf or {})

    def with_config(self, key: str, value) -> "SessionConfig":
        out = SessionConfig(self.conf)
        out.conf[key] = str(value)
        return out


def connect(master: Optional[str] = None, spark: Optional[SparkSession] = None,
            app_name: str = "xorq_spark", extra_conf: Optional[dict] = None,
            session_config: Optional[SessionConfig] = None) -> SparkSession:
    """Create (or adopt) the process-wide SparkSession."""
    global _active
    if spark is not None:
        _active = spark
        return spark
    if _active is not None:
        return _active
    master = master or os.environ.get("XORQ_SPARK_MASTER", f"local[{_default_parallelism()}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    overrides = dict(extra_conf or {})
    if session_config is not None:
        overrides.update(session_config.conf)
    for k, v in options(master).items():
        builder = builder.config(k, v)
    for k, v in overrides.items():
        builder = builder.config(k, v)
    _active = builder.getOrCreate()
    return _active


def get_spark() -> SparkSession:
    """Return the active session, creating the default one if needed."""
    active = SparkSession.getActiveSession()
    if active is not None:
        global _active
        _active = active
        return active
    return connect()


def set_backend(backend) -> None:
    """Set the default engine (reference: expr/api.py:97 set_backend).

    Accepts a SparkSession, a master URL string ("local[8]",
    "spark://host:7077", "sc://host" for Spark Connect), or the name
    "spark". The reference swaps among DataFusion/DuckDB/Postgres
    backends; here the engine is Spark and this selects WHICH Spark —
    cross-engine movement goes through interop.into_backend instead."""
    global _active
    if isinstance(backend, SparkSession):
        _active = backend
        return
    if isinstance(backend, str):
        if backend == "spark":
            connect()
            return
        if backend.startswith("sc://"):
            from xorq_spark.remote import remote_session

            _active = remote_session(backend)
            return
        _active = None
        connect(master=backend)
        return
    raise TypeError(f"unsupported backend: {backend!r}")


def get_backend(expr=None) -> SparkSession:
    """The session an expression is bound to, else the default
    (reference: expr/api.py:140 get_backend)."""
    bound = getattr(expr, "_spark", None)
    return bound if bound is not None else get_spark()
