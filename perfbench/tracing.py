"""Spans, counters and process accounting for the benchmark.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into engine modules, counters read the JVM and
``/proc`` at the same boundaries. Nothing is patched into the engine.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields, so the
    untraced run pays one generator frame per call and keeps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self.counts: dict = {}
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": self.counts}, f)


# ------------------------------------------------------------- /proc
def _stat(pid: int):
    """(ppid, comm, utime+stime+cutime+cstime seconds, rss MB) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    cpu = sum(int(x) for x in rest[11:15]) / _CLK_TCK
    return int(rest[1]), comm, cpu, int(rest[21]) * _PAGE_MB


def descendants(root: int) -> dict:
    """pid -> (comm, cpu_s, rss_mb) for every live process under root."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    out, frontier = {}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, comm, cpu, rss) in stats.items():
            if ppid == parent and pid not in out:
                out[pid] = (comm, cpu, rss)
                frontier.append(pid)
    return out


def host_cpu() -> list:
    """The host's aggregate /proc/stat cpu line, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    host_cpu() readings."""
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def split_by_kind(procs: dict, jvm_pid: int | None) -> dict:
    """Sum cpu and rss into jvm / python-worker buckets."""
    agg = {"jvm_cpu": 0.0, "jvm_rss": 0.0, "py_cpu": 0.0, "py_rss": 0.0}
    for pid, (comm, cpu, rss) in procs.items():
        if pid == jvm_pid:
            agg["jvm_cpu"] += cpu
            agg["jvm_rss"] += rss
        elif comm.startswith("python"):
            agg["py_cpu"] += cpu
            agg["py_rss"] += rss
    return agg


class RssSampler:
    """Samples the summed RSS of the driver, the JVM and the Python
    workers every PERIOD seconds on a daemon thread; keeps the peaks of
    the total and of each kind."""

    PERIOD = 0.2

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.peak = {"total": 0.0, "jvm": 0.0, "py": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        # only the driver, the JVM and Python processes count: a child
        # the JVM is spawning shares its address space until exec and
        # would read as a second JVM-sized RSS
        own = _stat(os.getpid())
        kinds = split_by_kind(descendants(os.getpid()), self.jvm_pid)
        total = kinds["jvm_rss"] + kinds["py_rss"] + (own[3] if own else 0)
        self.peak["total"] = max(self.peak["total"], total)
        self.peak["jvm"] = max(self.peak["jvm"], kinds["jvm_rss"])
        self.peak["py"] = max(self.peak["py"], kinds["py_rss"])

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------------------- JVM
def jvm_times(spark) -> dict:
    """Cumulative JVM garbage-collection and JIT-compilation time, s."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(max(b.getCollectionTime(), 0)
             for b in mf.getGarbageCollectorMXBeans())
    return {"gc": gc / 1e3,
            "jit": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


class JvmCounters:
    """Driver-cost counters read around one unit of work: py4j calls
    from this process, Spark jobs/stages/tasks run, and Janino codegen
    compilations (the JVM ``CodegenMetrics`` histogram count)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._codegen = (self.sc._jvm.org.apache.spark.metrics.source
                         .CodegenMetrics.METRIC_COMPILATION_TIME())
        self.calls = 0
        self._counting = False
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._counting:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._last_job = self._max_job(None)

    def _max_job(self, group) -> int:
        ids = list(self.tracker.getJobIdsForGroup(None))
        ids += self.tracker.getJobIdsForGroup(group) if group else []
        return max(ids, default=-1)

    @contextmanager
    def measure(self, group: str):
        """Counts over the with-block into the yielded dict. Jobs are
        attributed by id (every job above the last id seen), because the
        crawl submits its writes from pool threads that do not inherit
        the job group set here."""
        self.sc.setJobGroup(group, group)
        compiles0 = self._codegen.getCount()
        out: dict = {}
        self.calls, self._counting = 0, True
        try:
            yield out
        finally:
            self._counting = False
            out["py4j_calls"] = self.calls
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out["codegen_compiles"] = self._codegen.getCount() - compiles0
            first, self._last_job = self._last_job + 1, self._max_job(group)
            stages = tasks = 0
            for jid in range(first, self._last_job + 1):
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st and st.numCompletedTasks:
                        stages += 1
                        tasks += st.numCompletedTasks
            out["jobs"] = self._last_job + 1 - first
            out["stages"] = stages
            out["tasks"] = tasks
