"""Counters read from outside the program: the process tree in /proc,
host load, JVM management beans and Spark's own status store.

Nothing here touches `xorq_spark`; the Spark readers go through the
session's py4j gateway.
"""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024.0 * 1024.0


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read()


def _io(pid: int) -> tuple:
    rchar = wchar = 0
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            key, _, val = line.partition(":")
            if key == "rchar":
                rchar = int(val)
            elif key == "wchar":
                wchar = int(val)
    return rchar, wchar


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, _, rest = f.read().rpartition(")")
        except OSError:
            continue
        if "CompilerThre" in head:
            total += sum(int(x) for x in rest.split()[11:13])
    return total / CLK


def tree(root: int = None) -> dict:
    """Snapshot of `root` and all its descendants.

    Returns {pid: (kind, cpu_s, rss_bytes, rchar, wchar, jit_s)} where
    kind is `driver` (root), `jvm`, `pyworker` (pyspark daemon and
    workers) or `other`. cpu_s includes reaped children (cutime +
    cstime), so CPU of workers that exited stays counted in their
    parent; jit_s is the part of a JVM's cpu_s spent compiling."""
    root = root or os.getpid()
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat(int(name))[1])
            except (OSError, IndexError, ValueError):
                pass
    members, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in members:
                members.add(child)
                frontier.append(child)
    out = {}
    for pid in members:
        try:
            st = _stat(pid)
            cmd = _cmdline(pid)
            rchar, wchar = _io(pid)
        except (OSError, IndexError, ValueError):
            continue
        if pid == root:
            kind = "driver"
        elif cmd.split(b"\x00", 1)[0].endswith(b"java"):
            kind = "jvm"
        elif b"pyspark" in cmd:
            kind = "pyworker"
        else:
            kind = "other"
        cpu = sum(int(x) for x in st[11:15]) / CLK
        jit = jit_cpu_s(pid) if kind == "jvm" else 0.0
        out[pid] = (kind, cpu, int(st[21]) * PAGE, rchar, wchar, jit)
    return out


def cpu_by_kind(snap: dict) -> dict:
    acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for kind, cpu, *_ in snap.values():
        acc[kind] += cpu
    acc["total"] = sum(acc.values())
    acc["jit"] = sum(v[5] for v in snap.values())
    return acc


def rss_mb(snap: dict) -> float:
    return sum(v[2] for v in snap.values()) / MB


def worker_io(snap: dict) -> tuple:
    """(bytes read, bytes written) by pyspark worker processes: what the
    JVM sent to Python and what Python sent back, over the sockets."""
    r = sum(v[3] for v in snap.values() if v[0] == "pyworker")
    w = sum(v[4] for v in snap.values() if v[0] == "pyworker")
    return r, w


def worker_pids(snap: dict) -> set:
    return {pid for pid, v in snap.items() if v[0] == "pyworker"}


def speed_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes right now: about 20 ms on
    an idle 4-core Xeon. On a host whose cores other tenants share, the
    speed of a core drifts by 20% within seconds and by more between
    minutes; the benchmark runs this between ops, while the program is
    idle, and scales each op's time by it (see `report.scaled`)."""
    t = time.perf_counter()
    x = 0
    for i in range(200_000):
        x = (x * 31 + i) & 0xFFFFFF
    return time.perf_counter() - t


def host_busy_s() -> tuple:
    """(busy, stolen): CPU seconds the whole host has been busy, all
    cores summed, and the part of them the hypervisor gave to other
    virtual machines while this one had work to run."""
    with open("/proc/stat") as f:
        j = [int(x) for x in f.readline().split()[1:9]]
    return (j[0] + j[1] + j[2] + j[5] + j[6] + j[7]) / CLK, j[7] / CLK


def steal_share(before: tuple, after: tuple) -> float:
    """Share of the host's busy CPU time stolen between two readings of
    `host_busy_s`."""
    busy = after[0] - before[0]
    return (after[1] - before[1]) / busy if busy > 0 else 0.0


class Sampler:
    """Host and process-tree counters around one interval."""

    def __init__(self):
        self.snap = tree()
        self.host = host_busy_s()
        self.t = time.perf_counter()

    def delta(self) -> dict:
        snap = tree()
        host = host_busy_s()
        before, after = cpu_by_kind(self.snap), cpu_by_kind(snap)
        # a pid that vanished took its CPU with it; only count live growth
        d = {k: max(after[k] - before[k], 0.0) for k in after}
        r0, w0 = worker_io(self.snap)
        r1, w1 = worker_io(snap)
        d["wall"] = time.perf_counter() - self.t
        d["ext_cpu"] = max((host[0] - self.host[0]) - d["total"], 0.0)
        d["steal_frac"] = steal_share(self.host, host)
        d["worker_read"] = max(r1 - r0, 0)
        d["worker_written"] = max(w1 - w0, 0)
        d["spawns"] = len(worker_pids(snap) - worker_pids(self.snap))
        d["rss_mb"] = rss_mb(snap)
        return d

    def op_sample(self) -> dict:
        """The delta under the names an op record keeps."""
        d = self.delta()
        return {"cpu": d["total"], "jit_cpu": d["jit"], "driver_cpu": d["driver"],
                "jvm_cpu": d["jvm"], "pyworker_cpu": d["pyworker"], "ext_cpu": d["ext_cpu"],
                "steal_frac": d["steal_frac"], "spawns": d["spawns"],
                "worker_read": d["worker_read"],
                "worker_written": d["worker_written"], "rss_mb": d["rss_mb"]}


class Jvm:
    """JVM management beans and Spark's status store, over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> int:
        beans = self.mf.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def jit_ms(self) -> int:
        return self.mf.getCompilationMXBean().getTotalCompilationTime()

    def codegen_compiles(self) -> int:
        src = getattr(self.spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
        return getattr(src, "MODULE$").METRIC_COMPILATION_TIME().getCount()

    def next_job_id(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        """Wait until the listener bus has applied every event, so the
        status store holds the jobs that have just ended."""
        self.sc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, stop: int) -> list:
        """[(start_s, end_s, [stage dicts])] for job ids first..stop-1,
        with times in seconds of the epoch."""
        out = []
        for jid in range(first, stop):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:  # evicted or never registered
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            ids = job.stageIds()
            stages = [self._stage(ids.apply(i)) for i in range(ids.size())]
            out.append((
                sub.get().getTime() / 1000.0,
                done.get().getTime() / 1000.0,
                [s for s in stages if s is not None],
            ))
        return out

    def _stage(self, sid: int):
        try:
            sd = self.store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None
        if sd.status().toString() != "COMPLETE":
            return None  # skipped: its shuffle output was reused
        return {
            "tasks": sd.numCompleteTasks(),
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1000.0,
            "input_mb": sd.inputBytes() / MB,
            "shuffle_read_mb": sd.shuffleReadBytes() / MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
        }


def union_s(intervals, lo: float = None, hi: float = None) -> float:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
