"""Spans, Spark work counts and driver memory, observed from outside the engine.

Every call the benchmark makes into the engine goes through
``Tracer.span``. A span always measures its own wall time (the end-to-end
metrics need it). With tracing on it also keeps a record in memory
(name, start, end, parent span, run id, attributes) and the Spark jobs,
stages and tasks that ran inside it. Those counts come from the
application status store after the listener bus has drained, so they see
every job: jobs run from pool threads and streaming micro-batch jobs
included, which a caller-set job group would miss.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class SparkWork:
    """Cumulative Spark jobs / stages / tasks finished in this application."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._seen = -1
        self.jobs = self.stages = self.tasks = 0
        self.totals()  # jobs finished before the counter existed are not counted
        self.jobs = self.stages = self.tasks = 0

    def totals(self) -> tuple[int, int, int]:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusStore().jobsList(None)
        newest = self._seen
        for i in range(jobs.length()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen:
                continue
            newest = max(newest, jid)
            self.jobs += 1
            self.stages += j.numCompletedStages() + j.numFailedStages()
            self.tasks += j.numCompletedTasks() + j.numFailedTasks() + j.numKilledTasks()
        self._seen = newest
        return self.jobs, self.stages, self.tasks


class Tracer:
    """Spans around engine calls; a no-op recorder when ``enabled`` is False.

    ``span`` yields a dict that the caller may annotate; on exit it holds
    ``wall_s`` (and, when tracing, ``jobs``/``stages``/``tasks``). The
    time spent reading the status store is kept out of every span's
    ``wall_s`` and summed in ``overhead_s``.
    """

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._work = SparkWork(spark) if enabled else None

    def _counts(self) -> tuple[int, int, int]:
        t = time.perf_counter()
        c = self._work.totals()
        self.overhead_s += time.perf_counter() - t
        return c

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        if not self.enabled:
            t = time.perf_counter()
            yield rec
            rec["wall_s"] = time.perf_counter() - t
            return
        before = self._counts()
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1] if self._stack else None
        rec["run_id"] = self.run_id
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            after = self._counts()
            rec["start_s"] = t - self._t0
            rec["end_s"] = end - self._t0
            rec["wall_s"] = end - t
            rec["jobs"], rec["stages"], rec["tasks"] = (a - b for a, b in zip(after, before))


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat.

    Steal is time the hypervisor gave this VM's CPUs to other tenants.
    Its share over a timed region tells a slow run on a loaded host from
    a slow engine."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])
