"""Measurement plumbing: process probes, JVM MXBeans, the Spark status
store, and the span tracer.

Nothing here changes what the program does. The untraced run only
reads ``/proc`` and ``getrusage`` around each op; everything that
talks to the JVM per op (stage-store deltas, job counts, Catalyst
phases) runs only when tracing is on.
"""

from __future__ import annotations

import os
import resource
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock (epoch seconds) at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / _CLK


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` (all its threads), in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK


def proc_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def self_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class CpuMeter:
    """Accumulates JVM process CPU plus Python driver CPU over the
    intervals bracketed by :meth:`start` / :meth:`stop`."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.total = 0.0
        self._mark = 0.0

    def _now(self) -> float:
        try:
            jvm = proc_cpu_s(self.jvm_pid)
        except OSError:  # the JVM died; its CPU is no longer readable
            jvm = 0.0
        return jvm + self_cpu_s()

    def start(self) -> None:
        self._mark = self._now()

    def stop(self) -> None:
        self.total += max(0.0, self._now() - self._mark)


class JvmBeans:
    """The driver JVM's compilation, GC and heap MXBeans, read via py4j."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._compile = mf.getCompilationMXBean()
        self._memory = mf.getMemoryMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"]
        self.pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def jit_s(self) -> float:
        return self._compile.getTotalCompilationTime() / 1e3

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1e3

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_committed_mb(self) -> float:
        return self._memory.getHeapMemoryUsage().getCommitted() / 2**20

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20


def stage_mark(spark) -> tuple[int, int]:
    """(next stage id, next job id) once the listener bus has drained:
    a point in the session's sequence of stages and jobs."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    dag = sc._jsc.sc().dagScheduler()
    return int(dag.nextStageId()), int(dag.nextJobId())


def stage_work(spark, start: tuple[int, int], end: tuple[int, int]) -> dict:
    """Task metrics of the stages created between two marks, summed
    like plans.instrument.stage_snapshot sums the whole stage store.
    Reading only the new stages keeps one read at O(stages of the op);
    stage_snapshot folds every retained stage, so late in a run each
    call costs 0.1-0.3 s and tracing would double the measured wall."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": end[1] - start[1], "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
           "task_run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for sid in range(start[0], end[0]):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a stage created but never reported
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        out["task_cpu_s"] += s.executorCpuTime() / 1e9
        out["task_run_s"] += s.executorRunTime() / 1e3
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.diskBytesSpilled()
    return out


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time recorded on ``df``'s
    QueryExecution (read after the action that planned it)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1e3


def dir_stats(path: str, since: float | None = None) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``; with
    ``since``, only files modified at or after that epoch time."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if since is None or st.st_mtime >= since:
                size += st.st_size
                files += 1
    return size, files


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent,
    op); :meth:`self_times` folds them into per-name self time (span
    duration minus the part its child spans cover). Disabled, every
    method is a no-op, so the untraced run carries no tracing work."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op if op is not None else (self.spans[self._stack[-1]]["op"] if self._stack else None),
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    @staticmethod
    def duration(s: dict) -> float:
        """A span's duration: the timed call alone (``fn_s``) when the
        span also ran probes around it, else end - start."""
        return s["fn_s"] if "fn_s" in s else s["end"] - s["start"]

    def self_times(self) -> dict[int, float]:
        done = [s for s in self.spans if s["end"] is not None]
        own = {s["id"]: self.duration(s) for s in done}
        for s in done:
            if s["parent"] is not None:
                own[s["parent"]] -= self.duration(s)
        return own

    def total(self, name: str, attr: str | None = None) -> float:
        """Sum over spans named ``name`` of ``attr``, else of their self time."""
        own = self.self_times()
        return sum(
            (s.get(attr, 0) or 0) if attr is not None else own[s["id"]]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        )
