"""Counters read from outside the engine: ``/proc`` and Spark's JVM.

- ``ProcSampler`` polls ``/proc`` on a background thread for the peak RSS
  of the benchmark process tree (driver Python, the JVM, the pyspark
  daemon and its workers) and, while recording, a timeline of the Python
  workers' cumulative CPU time.
- ``SparkProbe`` reads the application status store (jobs and stages,
  the route ``tools/job_count_probe.py`` uses) and the JVM's
  ``CompilationMXBean``, garbage collectors and Spark's ``CodegenMetrics``
  over py4j.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _is_worker(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def _snapshot() -> tuple[dict[str, list[str]], dict[str, list[str]]]:
    """(pid -> stat fields, pid -> child pids) for every live process."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
    children: dict[str, list[str]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)  # st[1] is ppid
    return stats, children


def descendants(root: int) -> set[int]:
    _, children = _snapshot()
    out, stack = set(), [str(root)]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.add(int(c))
            stack.append(c)
    return out


def sample_tree(root: int) -> tuple[int, float]:
    """(RSS bytes of ``root`` and all its descendants, CPU seconds of the
    pyspark daemon tree including reaped workers)."""
    stats, children = _snapshot()
    rss = 0
    cpu_ticks = 0
    stack = [(str(root), False)]
    while stack:
        pid, in_worker = stack.pop()
        st = stats.get(pid)
        if st is None:
            continue
        rss += int(st[21]) * PAGE
        in_worker = in_worker or _is_worker(pid)
        if in_worker:
            # utime, stime, cutime, cstime: a worker that exits is reaped by
            # the daemon, moving its time into the daemon's cutime/cstime
            cpu_ticks += sum(int(x) for x in st[11:15])
        stack.extend((c, in_worker) for c in children.get(pid, ()))
    return rss, cpu_ticks / TICK


class ProcSampler:
    """Background ``/proc`` poller; use as a context manager."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss = 0
        self.cpu_timeline: list[tuple[float, float]] = []
        self.recording = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        rss, cpu = sample_tree(os.getpid())
        self.peak_rss = max(self.peak_rss, rss)
        if self.recording:
            self.cpu_timeline.append((time.time(), cpu))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkProbe:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = sc._jvm
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._mx = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def jvm_counters(self) -> dict:
        """Cumulative JIT ms, GC ms and whole-stage codegen compiles."""
        return {
            "jit_ms": self._mx.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": sum(
                b.getCollectionTime() for b in self._mx.getGarbageCollectorMXBeans()
            ),
            "codegen_compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
        }

    def settle_jit(self, quiet: float = 0.5, cap: float = 5.0) -> float:
        """Wait until the JIT compiler has been idle for ``quiet`` seconds
        (at most ``cap``), so that a timed pass does not share the CPU with
        compilations queued by the previous one; returns the wait."""
        mx = self._mx.getCompilationMXBean()
        t0 = time.perf_counter()
        last, idle_since = mx.getTotalCompilationTime(), t0
        while time.perf_counter() - idle_since < quiet and time.perf_counter() - t0 < cap:
            time.sleep(0.1)
            now = mx.getTotalCompilationTime()
            if now != last:
                last, idle_since = now, time.perf_counter()
        return time.perf_counter() - t0

    def last_job_id(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.size() else -1

    def jobs_after(self, last_id: int) -> list[dict]:
        """Every job newer than ``last_id``, oldest first, with its interval
        (epoch seconds) and the summed metrics of its stages."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._seq(self._store.jobsList(None))  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.get(i)
            if j.jobId() <= last_id:
                break
            done = j.completionTime()
            rec = {
                "id": j.jobId(),
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0,
                "skipped_stages": j.numSkippedStages(),
                "tasks": 0,
                "failed_tasks": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "fetch_wait_ms": 0,
            }
            for sid in self._seq(j.stageIds()):
                rec["stages"] += 1
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                rec["failed_tasks"] += s.numFailedTasks()
                rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
                rec["spill_bytes"] += s.diskBytesSpilled()
                rec["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            out.append(rec)
        return out[::-1]
