"""Write orchestration: tee (write-through) and write-audit-publish.

Reference: `Table.tee` (vendor/ibis/expr/types/relations.py:3427,
writers in writes/write_through.py:59-467, ADR-0014) and WAP
(writes/wap.py:36-214).

Spark execution is lazy and re-executes plans per action, so a
side-effect write inside a multi-consumer pipeline must be pinned:
`tee` uses write-THEN-read — the downstream expression scans the
written Parquet, guaranteeing exactly-once write semantics and making
the artifact the (reusable) upstream for every consumer. This is the
SURVEY §7 "multi-scan semantics" hard-part resolution.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, Optional, Sequence

from xorq_spark.expr.core import Expr
from xorq_spark.session import scoped_conf


def tee(expr: Expr, path: str, spark=None, mode: str = "overwrite") -> Expr:
    """Write `expr` to `path` and return an expression reading it back.
    The returned Expr is the pass-through continuation; the write has
    already happened exactly once."""
    from xorq_spark.expr.api import deferred_read_parquet

    expr.to_parquet(path, spark, mode=mode)
    return deferred_read_parquet(path)


class AuditError(RuntimeError):
    """An audit predicate rejected the staged write."""


def write_audit_publish(
    expr: Expr,
    final_path: str,
    audits: Sequence[Callable[[Expr], bool]],
    spark=None,
    staging_root: Optional[str] = None,
) -> str:
    """WAP: stage -> audit -> atomically publish (reference:
    writes/wap.py:36-214; Parquet flavor — the Iceberg flavor maps to
    branch + fast-forward on a real lakehouse).

    Audits are callables Expr -> bool run against the STAGED data; all
    must pass. Publish is an atomic directory rename; on audit failure
    the staging dir is left for inspection and AuditError raises."""
    from xorq_spark.expr.api import deferred_read_parquet

    staging_root = staging_root or os.path.dirname(final_path.rstrip("/")) or "."
    staging = os.path.join(staging_root, f".wap-staging-{uuid.uuid4().hex[:12]}")
    expr.to_parquet(staging, spark)
    staged = deferred_read_parquet(staging)
    for audit in audits:
        ok = audit(staged)
        if not ok:
            raise AuditError(
                f"audit {getattr(audit, '__name__', repr(audit))} failed; "
                f"staged data kept at {staging}"
            )
    if os.path.exists(final_path):
        retired = final_path.rstrip("/") + f".retired-{uuid.uuid4().hex[:8]}"
        os.rename(final_path, retired)
    os.rename(staging, final_path)
    return final_path


def _iceberg_catalogs(spark) -> list:
    return [
        k for k, _ in spark.sparkContext.getConf().getAll()
        if k.startswith("spark.sql.catalog.")
    ]


def iceberg_available(spark=None) -> bool:
    """True if this session has an Iceberg catalog configured
    (iceberg-spark-runtime jar + spark.sql.catalog.<name> conf). Not
    present in this container — gates write_audit_publish_iceberg."""
    try:
        from xorq_spark.session import get_spark

        return bool(_iceberg_catalogs(spark or get_spark()))
    except Exception:
        return False


def write_audit_publish_iceberg(
    expr: Expr,
    table: str,
    audits: Sequence[Callable[[Expr], bool]],
    spark=None,
    branch: str = "audit",
) -> str:
    """Iceberg flavor of WAP (reference: writes/wap.py Iceberg path):
    write to a branch, audit the branch, fast-forward main onto it.

    Same stage -> audit -> atomic-publish contract as the Parquet
    flavor above, but staging is an Iceberg branch and publish is a
    metadata-only fast-forward instead of a directory rename — no data
    movement at any scale. Requires the iceberg-spark-runtime jar and
    a configured catalog; gated (this container has neither)."""
    from xorq_spark.session import get_spark
    from xorq_spark.expr.api import register

    s = spark or get_spark()
    if not _iceberg_catalogs(s):
        raise ImportError(
            "write_audit_publish_iceberg requires an Iceberg catalog "
            "(spark.sql.catalog.* conf + iceberg-spark-runtime jar); "
            "none configured in this session"
        )
    df = expr.to_spark(s)
    s.sql(f"ALTER TABLE {table} CREATE BRANCH IF NOT EXISTS `{branch}`")
    df.writeTo(f"{table}.branch_{branch}").append()
    staged = register(s, s.read.option("branch", branch).table(table), f"_wap_{branch}")
    for audit in audits:
        if not audit(staged):
            raise AuditError(
                f"audit {getattr(audit, '__name__', repr(audit))} failed; "
                f"branch {branch!r} of {table} kept for inspection"
            )
    s.sql(f"CALL system.fast_forward('{table}', 'main', '{branch}')")
    return table


def write_audit_publish_delta(
    expr: Expr,
    table_path: str,
    audits: Sequence[Callable[[Expr], bool]],
    spark=None,
    mode: str = "append",
    partition_by: Sequence[str] = (),
) -> int:
    """WAP on the built-in Delta log (delta.py): stage data files into
    the table directory WITHOUT committing, audit the staged snapshot,
    then publish by atomically appending the commit JSON. Returns the
    committed version.

    This is the lakehouse-grade contract the Iceberg flavor promises —
    publish is metadata-only (one small file creation; no data movement
    at any scale) and an uncommitted stage is invisible to every
    concurrent reader, because readers only see files the log names. On
    audit failure the staged files are deleted and AuditError raises;
    the table's live snapshot is untouched throughout."""
    from xorq_spark.delta import (
        _atomic_commit,
        _delta_schema_string,
        replay_log,
        stage_delta_files,
    )
    from xorq_spark.expr.api import register
    from xorq_spark.session import get_spark

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    s = spark or get_spark()
    df = expr.to_spark(s)
    log_dir = os.path.join(table_path, "_delta_log")
    new_table = not os.path.isdir(log_dir)

    adds = stage_delta_files(df, table_path, partition_by)
    staged_paths = [os.path.join(table_path, a["add"]["path"]) for a in adds]
    staged = register(
        s,
        s.read.parquet(*staged_paths) if staged_paths else df.limit(0),
        f"_wap_delta_{uuid.uuid4().hex[:8]}",
    )
    for audit in audits:
        if not audit(staged):
            for p in staged_paths:
                os.unlink(p)
            raise AuditError(
                f"audit {getattr(audit, '__name__', repr(audit))} failed; "
                f"staged files removed, {table_path} unchanged"
            )

    actions = []
    if new_table:
        os.makedirs(log_dir, exist_ok=True)
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _delta_schema_string(df.schema),
                    "partitionColumns": list(partition_by),
                    "configuration": {},
                    "createdTime": 0,
                }
            }
        )
    elif mode == "overwrite":
        live, _ = replay_log(table_path)
        actions.extend(
            {"remove": {"path": a["path"], "dataChange": True}} for a in live
        )
    actions.extend(adds)
    return _atomic_commit(log_dir, actions)


# --------------------------------------------------------------------------
# reference-named surface (writes/__init__ __all__): deferred WAP exprs
# and the write-through/WriteMode spellings. DrainingIterator /
# ThreadedBackendWriteThrough are internal plumbing of the reference's
# record-batch sink and have no Spark analog (the JVM writers own
# draining/threading here).
# --------------------------------------------------------------------------
class WriteMode:
    """Write-mode vocabulary (reference: writes/enums.py:6). Values are
    Spark save-mode strings, usable anywhere a `mode=` is accepted."""

    OVERWRITE = "overwrite"
    APPEND = "append"
    ERROR = "error"
    IGNORE = "ignore"


class ParquetWriteThrough:
    """tee() in class form (reference: writes/write_through.py:82):
    `ParquetWriteThrough(path, mode)(expr)` writes through `path` and
    returns the read-back continuation."""

    def __init__(self, path: str, mode: str = WriteMode.OVERWRITE):
        self.path, self.mode = path, mode

    def __call__(self, expr: Expr, spark=None) -> Expr:
        return tee(expr, self.path, spark, mode=self.mode)


class _WapExpr(Expr):
    """Deferred WAP (reference: make_wap_expr, writes/wap.py:96): the
    stage->audit->publish side effect runs once, at first lowering, and
    the expr then reads the published data. Not serializable (the audit
    callable is a closure) — build artifacts should stage WAP via the
    eager write_audit_publish instead."""

    def __init__(self, parent: Expr, staging_root: Optional[str], final: str,
                 audit_fn, iceberg_table: Optional[str] = None):
        super().__init__(parent.node, parent._spark)
        self._wap = (parent, staging_root, final, audit_fn, iceberg_table)
        self._published = False

    def to_spark(self, spark=None, params=None, bindings=None):
        parent, staging_root, final, audit_fn, iceberg_table = self._wap
        s = self._session(spark)
        if not self._published:
            def audit(staged_expr):
                return bool(audit_fn(staged_expr.execute(s)))

            if iceberg_table is not None:
                write_audit_publish_iceberg(parent, iceberg_table, [audit], spark=s)
            else:
                write_audit_publish(
                    parent, final, [audit], spark=s, staging_root=staging_root
                )
            self._published = True
        if iceberg_table is not None:
            return s.table(iceberg_table)
        return s.read.parquet(final)


def make_parquet_wap_expr(expr: Expr, staging: str, final: str, audit_fn) -> Expr:
    """Deferred parquet WAP (reference: writes/wap.py:150). `audit_fn`
    takes the STAGED data as a pandas DataFrame and returns truthy to
    publish; the returned expr executes the WAP on first use."""
    return _WapExpr(expr, staging, final, audit_fn)


def make_iceberg_wap_expr(expr: Expr, table: str, audit_fn) -> Expr:
    """Deferred Iceberg WAP (reference: writes/wap.py:214); gated on a
    configured Iceberg catalog like write_audit_publish_iceberg."""
    return _WapExpr(expr, None, table, audit_fn, iceberg_table=table)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by=(),
) -> dict:
    """Small-files maintenance for a plain parquet directory — the
    OPTIMIZE counterpart for tables without a transaction log (the
    Delta writer has its own `optimize_compact`): measure the current
    layout, rewrite to ceil(total_bytes / target) files (optionally
    sorted for range-scan locality), publish atomically via the
    temp-dir + rename pattern (readers mid-scan keep the old handle;
    new readers see the new layout — same contract as the cache
    publish).

    Returns {"files_before", "files_after", "bytes"}. No-op (no
    rewrite) when the layout already meets the target.

    Scale notes: one read + one write of the data — the unavoidable
    compaction cost; the file count comes from the directory listing,
    not a scan. At 100 TB run it per partition directory, not on the
    root."""
    import math
    import os
    import uuid

    files = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    want = max(1, math.ceil(total / target_file_bytes))
    if len(files) <= want:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
        }
    df = spark.read.parquet(path)
    if sort_by:
        df = df.sort(*list(sort_by))
        out = df.coalesce(want) if not sort_by else df.repartitionByRange(
            want, *list(sort_by)
        ).sortWithinPartitions(*list(sort_by))
    else:
        out = df.coalesce(want)
    tmp = f"{path}.compact-{uuid.uuid4().hex}"
    out.write.mode("overwrite").parquet(tmp)
    old = f"{path}.old-{uuid.uuid4().hex}"
    os.rename(path, old)
    os.rename(tmp, path)
    import shutil

    shutil.rmtree(old)
    after = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    return {"files_before": len(files), "files_after": after, "bytes": total}


def overwrite_partitions(df, path: str, partition_by, mode_check: bool = True):
    """Idempotent partition backfill: overwrite ONLY the partitions
    present in `df`, leaving every other partition of the target
    untouched — the re-run-a-day / fix-a-slice shape (a full
    mode="overwrite" would truncate the whole table; append would
    double-count the re-run).

    Implemented with Spark's dynamic partition-overwrite mode, scoped
    to THIS write and restored afterwards, so a session-level static
    setting elsewhere is not disturbed. The write is atomic per
    partition (Spark stages to _temporary and commits per-partition
    directories), which is exactly the idempotence a retried backfill
    job needs.

    Scale notes: cost is one shuffle-free write of `df`; partition
    pruning on the read side is untouched. Writers of two DIFFERENT
    partitions can run concurrently; two writers of the SAME partition
    race (last committer wins) — same contract as Hive/warehouse
    dynamic overwrite.
    """
    partition_by = (
        [partition_by] if isinstance(partition_by, str) else list(partition_by)
    )
    with scoped_conf(
        df.sparkSession, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
