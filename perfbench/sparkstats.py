"""Spark-side and host-side measurements read from the benchmark's own
process: per-job / per-stage metrics from the status store, peak
resident memory, and a host-health record.

Stage metrics come from `SparkContext.statusStore()` (works with the UI
off; runs no job). The benchmark's session raises
spark.ui.retainedJobs / retainedStages so a whole run stays readable.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

RETAIN_CONF = {
    # the status store keeps 1000 jobs / stages by default: a multi-round
    # crawl runs more, and evicted stages would silently drop out of
    # executor_cpu_s and the per-module numbers
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class JobStats:
    """Totals over a set of Spark jobs."""

    jobs: int = 0
    stages: int = 0  # executed (not skipped) stages
    tasks: int = 0
    cpu_s: float = 0.0  # executorCpuTime
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    output_b: int = 0
    input_records: int = 0
    busy_s: float = 0.0  # union of job [submit, complete] intervals
    intervals: list = field(default_factory=list)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusReader:
    """Reads finished jobs from the status store in submission order."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.next_job = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds final metrics for every finished job."""
        try:
            self.bus.waitUntilEmpty()
        except Py4JJavaError:
            time.sleep(0.2)

    def new_jobs(self) -> list[int]:
        """Ids of jobs submitted since the last call (tolerates a few
        unposted ids)."""
        self.drain()
        ids, probe, misses = [], self.next_job, 0
        while misses < 4:
            try:
                self.store.job(probe)
                ids.append(probe)
                misses = 0
                self.next_job = probe + 1
            except Py4JJavaError:
                misses += 1
            probe += 1
        return ids

    def job_ids_for_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stats(self, job_ids: list[int]) -> JobStats:
        st = JobStats()
        seen_stages: set[int] = set()
        for jid in job_ids:
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:
                continue
            st.jobs += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                st.intervals.append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += sd.numCompleteTasks()
                st.cpu_s += sd.executorCpuTime() / 1e9
                st.gc_s += sd.jvmGcTime() / 1e3
                st.shuffle_read_b += sd.shuffleLocalBytesRead() + sd.shuffleRemoteBytesRead()
                st.shuffle_write_b += sd.shuffleWriteBytes()
                st.output_b += sd.outputBytes()
                st.input_records += sd.inputRecords()
        st.busy_s = union_length(st.intervals)
        return st


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[1]) == pid:
                out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _jvm_tree(spark) -> list[int]:
    """The driver JVM and every process under it (the Python daemon and
    its forked workers)."""
    root = jvm_pid(spark)
    pids, frontier = [root], [root]
    while frontier:
        kids = [c for p in frontier for c in _children(p)]
        pids += kids
        frontier = kids
    return pids


def peak_rss_mb(spark) -> dict:
    """Peak resident set (VmHWM) of the driver JVM plus every Python
    worker process under it: {"total", "jvm", "workers"} in MB."""
    jvm, *workers = _jvm_tree(spark)
    j = _status_kb(jvm, "VmHWM") / 1024.0
    w = sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0
    return {"total": j + w, "jvm": j, "workers": w, "n_workers": len(workers)}


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int, reaped: bool) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime (+ cutime, cstime: CPU of children already reaped)
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def own_cpu_s() -> float:
    """CPU seconds used so far by this Python process (all its threads)."""
    return time.process_time()


def worker_cpu_s(spark) -> float:
    """CPU seconds used so far by the Python workers under the driver
    JVM: the daemon and its forked workers, reaped ones included (by the
    daemon or by the JVM). A pandas / Arrow UDF runs there, outside the
    JVM task threads whose time executorCpuTime counts."""
    jvm, *workers = _jvm_tree(spark)
    reaped_by_jvm = _cpu_ticks(jvm, reaped=True) - _cpu_ticks(jvm, reaped=False)
    return (reaped_by_jvm + sum(_cpu_ticks(p, reaped=True) for p in workers)) / _TICK


def tree_cpu_s(spark) -> float:
    """CPU seconds used so far by this Python driver, the driver JVM
    (task threads, planning, JIT, GC) and the Python workers, including
    workers that have exited. Stolen time is not counted, so it is far
    steadier than wall time on a shared host."""
    return own_cpu_s() + sum(_cpu_ticks(p, reaped=True) for p in _jvm_tree(spark)) / _TICK


# ---------------------------------------------------------------------------
# host health
# ---------------------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostHealth:
    """CPU steal over the run (from the /proc/stat delta), the 1-minute
    load average, and bench._cpu_canary() taken before the JVM starts."""

    def __init__(self, canary: bool = True):
        self.t0 = _cpu_times()
        self.load_start = os.getloadavg()[0]
        self.canary = None
        if canary:
            import bench

            self.canary = bench._cpu_canary()

    def record(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        return {
            "cpu_steal_pct": 100.0 * steal / total,
            "cpu_busy_pct": 100.0 * (total - d[3] - d[4]) / total,
            "load_1m_start": self.load_start,
            "load_1m_end": os.getloadavg()[0],
            "cpus": os.cpu_count(),
            "cpu_canary": self.canary,
        }
