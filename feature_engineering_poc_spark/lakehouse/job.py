"""The one job skeleton of the unit-based maintenance ops (compaction,
clustering, MERGE); each op keeps only its planning and its summary.

A ``MaintenanceJob`` reads the parent snapshot once, returns a replayed
job's recorded result before any planning (``replayed``), runs the
op's resumable units, each logged to the job's lineage log once its
outputs are written (``run``, ``run_each``), and commits parent
manifest − the units' input files + their new rows in one CAS snapshot
swap followed by the ``committed`` lineage event (``commit``). ``lap``
times the phases that every committed summary carries.
"""

from __future__ import annotations

import itertools
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import SparkSession

from .lineage import LineageLog
from .metadata import TokenTable

# Units per in-task rewrite job (``run_task_units``).
UNITS_PER_JOB = 64


def _parse_size(s: str) -> int:
    """'48g'/'2gb'/'512m'/'1024k'/bytes → bytes (Spark size-string set);
    two-letter suffixes match first, so '2gb' is not read as '2g' + 'b'."""
    s = s.strip().lower()
    for suffix, mult in (
        ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


@dataclass
class TaskUnit:
    """One resumable unit (its lineage ``name``) whose specs run as
    in-task rewrites."""

    name: str
    specs: list[dict]
    files_in: list[str]
    metrics: dict


def crash_hook(fail_after_units: int | None) -> Callable[[], None] | None:
    """Test hook: a callable to run after each finished unit that raises
    after the ``fail_after_units``-th one (None: no hook)."""
    if fail_after_units is None:
        return None
    finished = itertools.count(1)

    def tick() -> None:
        i = next(finished)
        if i >= fail_after_units:
            raise RuntimeError(f"injected failure after {i} units (test hook)")

    return tick


def run_task_units(
    spark: SparkSession,
    log: LineageLog,
    units: list[TaskUnit],
    after_unit: Callable[[], None] | None = None,
) -> None:
    """Run units GROUPED into chunks of ``UNITS_PER_JOB``: all of a
    chunk's specs ride one Spark job (specs are independent tasks, so
    grouping loses no parallelism and slashes per-job driver overhead).
    Lineage checkpoints stay per-unit, written after each job; a crash
    mid-chunk redoes at most one chunk of deterministic outputs.
    ``after_unit`` (the crash hook) runs after each checkpoint, and
    then every unit runs in a job of its own for an exact crash point."""
    from .compaction import _rewrite_bins_distributed

    per_job = 1 if after_unit is not None else UNITS_PER_JOB
    for start in range(0, len(units), per_job):
        chunk = units[start : start + per_job]
        per_spec = iter(_rewrite_bins_distributed(spark, [s for u in chunk for s in u.specs]))
        for u in chunk:
            new_rows = [r for _ in u.specs for r in next(per_spec)]
            log.mark_unit_done(
                u.name,
                files_in=u.files_in,
                new_manifest_rows=new_rows,
                metrics={**u.metrics, "files_written": len(new_rows)},
            )
            if after_unit is not None:
                after_unit()


class MaintenanceJob:
    """One run of a maintenance op of ``kind`` (``compact``, a curve name,
    ``merge``) on ``table``.

    ``fail_after_units`` is the test hook that injects a crash after N
    finished units to exercise resume; under it every unit runs in its
    own job(s), sequentially, so the crash point is exact.
    """

    def __init__(self, spark: SparkSession, table: TokenTable, kind: str,
                 job_id: str | None = None, fail_after_units: int | None = None):
        self.spark, self.table = spark, table
        self.parent = table.current_snapshot_id()
        self.tag = job_id or f"{kind}-snap{self.parent}"
        self.log = LineageLog(table.root, self.tag)
        self.tick = crash_hook(fail_after_units)
        self.phases: dict[str, float] = {}
        self._clock = time.perf_counter()

    def replayed(self) -> dict | None:
        """The result of this job when it already committed, or None.

        A job whose log records a commit returns that record (a replay
        is a no-op). A job whose snapshot was published but whose log
        lacks the 'committed' event (a crash between the VERSION swap
        and the fsync'd append, see ``TokenTable.snapshot_for_job``)
        repairs the log and returns the published summary instead of
        committing the same manifest rows a second time.
        """
        prior = self.log.committed()
        if prior is not None:
            return {k: v for k, v in prior.items()
                    if k not in ("event", "job_id", "timestamp_ms")}
        published = self.table.snapshot_for_job(self.tag)
        if published is None:
            return None
        summary = dict(published["summary"])
        self.log.log_event("committed", snapshot_id=published["snapshot_id"], **summary)
        return {"snapshot_id": published["snapshot_id"], **summary}

    def lap(self, name: str) -> None:
        """Record the seconds since the previous lap as phase ``name``."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._clock, 3)
        self._clock = now

    def task_bytes(self) -> int:
        """The input bytes one scan task takes
        (``spark.sql.files.maxPartitionBytes``): the memory envelope of
        an in-task unit."""
        return _parse_size(self.spark.conf.get("spark.sql.files.maxPartitionBytes"))

    def run(self, units: list[TaskUnit]) -> None:
        """Run in-task units, ``UNITS_PER_JOB`` to a Spark job."""
        run_task_units(self.spark, self.log, units, self.tick)

    def run_each(self, fn: Callable[[str], None], names: list[str]) -> None:
        """Run ``fn(name)`` for units that need Spark jobs of their own:
        concurrently from up to 8 threads (``fn`` logs its unit)."""
        if self.tick is not None:
            for name in names:
                fn(name)
                self.tick()
        elif names:
            with ThreadPoolExecutor(max_workers=min(8, len(names))) as ex:
                for f in [ex.submit(fn, name) for name in names]:
                    f.result()

    def done(self, planned: dict[str, list[str]] | None = None) -> dict[str, dict]:
        """unit → its completion record; with ``planned`` (unit → input
        files) only the records of this plan's units over the same files
        (a record left by another plan of the same job tag is ignored)."""
        done = self.log.completed_units()
        if planned is None:
            return done
        return {u: r for u, r in done.items() if planned.get(u) == r["files_in"]}

    def commit(self, operation: str, summary: dict, done: dict[str, dict]) -> dict:
        """Commit the units in ``done`` (covers resumed units too) and
        return ``{"snapshot_id", **summary}``. The snapshot summary holds
        the phases so far; the ``committed`` event and the result also
        hold ``commit``."""
        removed = [f for rec in done.values() for f in rec["files_in"]]
        new_rows = [row for rec in done.values() for row in rec["new_manifest_rows"]]
        summary = {**summary, "files_written": len(new_rows), "job_tag": self.tag,
                   "phases": self.phases}
        sid = self.table.commit_delta(removed, new_rows, operation=operation,
                                      summary=summary, parent_id=self.parent)
        self.lap("commit")
        self.log.log_event("committed", snapshot_id=sid, **summary)
        return {"snapshot_id": sid, **summary}
