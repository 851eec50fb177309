"""Spans and JVM-side counters for the traced benchmark run.

A :class:`Tracer` records one span per call the benchmark makes into
a layer of the engine: name, start, end, parent span and run id, plus
whatever attributes the caller attaches.  A span opened with
``jobs=True`` also tags the Spark job group and collects, from the
driver's status store, every job that ran between its start and end
(the benchmark is a single closed-loop client, so the job-id range of
the span is exactly its work, side-write threads included).  Spans
stay in memory; the runner derives the per-layer metrics from them at
the end of the run.

With tracing disabled, :meth:`Tracer.span` records nothing and makes
no JVM calls, so the untraced runs measure the program alone.
"""

from __future__ import annotations

import contextlib
import time
import uuid


class JvmProbe:
    """Thin py4j accessors for the driver's status store and MXBeans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.jvm = self.sc._jvm

    def drain(self) -> None:
        """Wait until the listener bus has applied every event, so the
        status store reflects all jobs that have ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)     # newest first
        return jobs.apply(0).jobId() if jobs.length() else -1

    def jobs(self, lo: int, hi: int) -> dict:
        """Counters of the jobs with ids in ``(lo, hi]``."""
        out = {"job_ids": list(range(lo + 1, hi + 1)), "stages": 0,
               "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
               "shuffle_mb": 0.0, "job_spans": []}
        for jid in out["job_ids"]:
            try:
                job = self.store.job(jid)
            except Exception:
                continue                      # evicted from the store
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_spans"].append((sub.get().getTime() / 1e3,
                                         done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                try:
                    st = self.store.lastStageAttempt(stage_ids.apply(i))
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_mb"] += (st.shuffleReadBytes()
                                      + st.shuffleWriteBytes()) / 2**20
        return out

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size())) / 1e3

    def heap_used_mb(self) -> float:
        return self.jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def storage_mb(self) -> float:
        return sum(r.memSize() + r.diskSize()
                   for r in self.jsc.getRDDStorageInfo()) / 2**20


def uncovered_s(start: float, end: float, intervals) -> float:
    """Part of ``[start, end]`` that no interval covers."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


class Tracer:
    def __init__(self, enabled: bool, probe: JvmProbe | None = None):
        self.enabled = enabled
        self.probe = probe
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.self_s = 0.0       # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []

    @contextlib.contextmanager
    def cost(self):
        """Charge the body to the tracer's own time (extra probes the
        workload makes only when tracing)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.self_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Record ``name`` around the body; yields the span dict (or
        an empty dict when tracing is off) for the caller to annotate."""
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if jobs:
            with self.cost():
                self.probe.drain()
                lo = self.probe.last_job_id()
                self.probe.sc.setJobGroup(
                    f"perfbench-{self.run_id}-{rec['id']}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs:
                with self.cost():
                    self.probe.drain()
                    rec.update(self.probe.jobs(lo, self.probe.last_job_id()))
                    rec["driver_gap_s"] = uncovered_s(
                        rec["start"], rec["end"], rec.pop("job_spans"))



def wall(span: dict) -> float:
    return span["end"] - span["start"]
