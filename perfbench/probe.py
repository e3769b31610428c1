"""Measurement helpers for the link-graph benchmark.

Everything here observes the program from outside: wall clocks around
calls, Spark job groups read back from the status stores after a run,
resident memory sampled from ``/proc`` by one thread, and a host-load
marker.
Nothing in ``cugraph_spark`` is patched or wrapped.

A value that cannot be read is ``None`` (reported as unmeasured), never
a fabricated zero.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

MB = 1024.0 * 1024.0

# SQL metric names of the Python-UDF exec nodes (ArrowEvalPython,
# FlatMapGroupsInPandas, MapInPandas); readable from the SQL status
# store on Spark 4.1.
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float | None:
    """Parse a SQL-store metric string into seconds or bytes.

    Spark formats a metric either as ``"210 ms"`` / ``"1.5 KiB"`` or, when
    several tasks reported it, as ``"total (min, med, max ...)\\n2.1 s (...)"``;
    the total is the first value of the last line."""
    m = _VALUE_RE.match(text.strip().splitlines()[-1])
    if m is None:
        return None
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return None


# ---------------------------------------------------------------- host


def host_marker() -> dict:
    """1-minute load average plus the time of a fixed single-thread numpy
    kernel (median of 3). Recorded before and after each run so a
    uniform shift between two runs can be told apart from a change."""
    rng = np.random.default_rng(12345)
    data = rng.random(1 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(data, kind="quicksort")
        times.append(time.perf_counter() - t0)
    return {"loadavg_1m": _loadavg(), "calib_s": statistics.median(times)}


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    descendant: the driver JVM, the Python daemon and its workers.
    Workers that ended count through their parent's reaped-children
    times. The kernel does not charge a process for time the hypervisor
    stole from its vCPU, which makes this steadier than wall time on a
    shared host."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended between listing and reading
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class StealMeter:
    """Share of all vCPU time the hypervisor stole between ``start`` and
    ``stop`` (``/proc/stat``)."""

    def start(self) -> None:
        self._t0 = _cpu_stat()

    def stop(self) -> float | None:
        t1 = _cpu_stat()
        total = sum(t1) - sum(self._t0)
        return (t1[7] - self._t0[7]) / total if total else None


def _cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


# ---------------------------------------------------------------- RSS


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _mem_bytes(pid: int, java: bool) -> int:
    """Resident bytes of one process. The forked Python workers share
    pages with their daemon, so they count their proportional share
    (PSS); the JVM shares nothing and counts its RSS, which is cheap to
    read where its PSS costs a page-table walk."""
    try:
        if java:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass  # the process ended between listing and reading
    return 0


def _kind(pid: int) -> str | None:
    """"java" for the driver JVM, "python" for the Python workers and
    their daemon, None for anything else: the spark-submit script before
    it execs the JVM, and the short-lived helpers the JVM spawns, which
    until they exec show the JVM's whole address space."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return None
    if comm == "java":
        return "java"
    return "python" if comm.startswith("python") else None


class RssSampler:
    """One thread sums the resident memory of this process's descendants
    (the driver JVM and its Python workers) every ``period`` seconds and
    keeps the peaks since the last ``reset``: of the sum, and of the JVM
    and the workers apart. The process list is refreshed every
    ``refresh`` samples."""

    def __init__(self, period: float = 0.2, refresh: int = 5):
        self._period = period
        self._refresh = refresh
        self._peak = self._peak_jvm = self._peak_py = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        me, procs, n = os.getpid(), {}, 0
        while not self._stop.wait(self._period):
            if n % self._refresh == 0:
                procs = {p: k for p in descendants(me) if (k := _kind(p))}
            n += 1
            jvm = py = 0
            for p, kind in procs.items():
                if kind == "java":
                    jvm += _mem_bytes(p, True)
                else:
                    py += _mem_bytes(p, False)
            with self._lock:
                self._peak = max(self._peak, jvm + py)
                self._peak_jvm = max(self._peak_jvm, jvm)
                self._peak_py = max(self._peak_py, py)

    def reset(self) -> None:
        with self._lock:
            self._peak = self._peak_jvm = self._peak_py = 0

    def peaks_mb(self) -> dict:
        """Peak of the sum, of the JVM's RSS and of the workers' summed
        PSS; ``None`` where nothing was sampled."""
        with self._lock:
            peaks = {"peak_rss_mb": self._peak, "peak_jvm_rss_mb": self._peak_jvm,
                     "peak_worker_pss_mb": self._peak_py}
        return {k: v / MB if v else None for k, v in peaks.items()}

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection: the
    program's cached frames, broadcasts and driver-side state."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / MB


# ---------------------------------------------------------------- spans


class Tracer:
    """Times calls; when ``enabled`` also puts each call in its own Spark
    job group and keeps a span ``{name, layer, start, end, parent, run}``
    in memory. Spans are written out by the caller when the run ends."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        """Yields a record whose ``wall_s`` is set when the block exits."""
        rec = {
            "run": self.run_id, "id": len(self.spans), "layer": layer,
            "name": name, "parent": self._stack[-1] if self._stack else None,
            "group": None,
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext
        if self.enabled:
            rec["group"] = f"{self.run_id}.{rec['id']}"
            sc.setJobGroup(rec["group"], f"{layer}:{name}")
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["layer"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)


class StatusReader:
    """Reads per-job-group call metrics from Spark's status stores after
    the run. Jobs are found by group, so nothing depends on cumulative
    totals that stage eviction can shrink."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sparkContext().statusStore()
        self._py_by_job = self._python_metrics_by_job()

    def _python_metrics_by_job(self) -> dict[int, tuple[int, dict]] | None:
        """job id → (execution id, {metric name: value}) for the SQL
        executions that contain a Python-UDF node."""
        try:
            sqls = self.spark._jsparkSession.sharedState().statusStore()
            out = {}
            it = sqls.executionsList().iterator()
            while it.hasNext():
                ex = it.next()
                ids = {}
                for line in ex.metrics().mkString("\u0001").split("\u0001"):
                    # SQLPlanMetric(name,accumulatorId,metricType)
                    m = re.match(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$", line)
                    if m and m.group(1) in (PY_TIME, PY_SENT, PY_RECV):
                        ids[int(m.group(2))] = m.group(1)
                if not ids:
                    continue
                values = {PY_TIME: 0.0, PY_SENT: 0.0, PY_RECV: 0.0}
                mv = sqls.executionMetrics(ex.executionId())
                for acc, name in ids.items():
                    got = mv.get(acc)
                    if got.isDefined():
                        v = parse_sql_metric(str(got.get()))
                        if v is None:
                            return None
                        values[name] += v
                jt = ex.jobs().keysIterator()
                while jt.hasNext():
                    out[int(jt.next())] = (int(ex.executionId()), values)
            return out
        except Exception:  # noqa: BLE001 - JVM API drift → unmeasured
            return None

    def call_metrics(self, group: str) -> dict:
        """Metrics of one job group; ``None`` for anything unreadable."""
        sc = self.spark.sparkContext
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
        out: dict = {"jobs": len(jobs)}
        keys = ("task_busy_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "peak_exec_mem_mb")
        try:
            acc = dict.fromkeys(keys, 0.0)
            seen = set()
            for jid in jobs:
                sit = self.store.job(jid).stageIds().iterator()
                while sit.hasNext():
                    sid = int(sit.next())
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = self.store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: its work belongs to an earlier job
                    acc["task_busy_s"] += sd.executorRunTime() / 1e3
                    acc["gc_s"] += sd.jvmGcTime() / 1e3
                    acc["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                    acc["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    acc["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                    acc["peak_exec_mem_mb"] = max(
                        acc["peak_exec_mem_mb"], sd.peakExecutionMemory() / MB)
            out.update(acc)
        except Exception:  # noqa: BLE001 - evicted or drifted → unmeasured
            out.update(dict.fromkeys(keys))
        if self._py_by_job is None:
            out.update(python_s=None, arrow_sent_mb=None, arrow_recv_mb=None)
        else:
            execs = {self._py_by_job[j][0]: self._py_by_job[j][1]
                     for j in jobs if j in self._py_by_job}
            out["python_s"] = sum(v[PY_TIME] for v in execs.values())
            out["arrow_sent_mb"] = sum(v[PY_SENT] for v in execs.values()) / MB
            out["arrow_recv_mb"] = sum(v[PY_RECV] for v in execs.values()) / MB
        return out


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / MB
