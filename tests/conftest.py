"""Shared Spark session fixture.

Mirrors the reference's test wrapper
(utils/SparkSessionTestWrapper.scala:12-76: shared lazy local session,
tiny shuffle parallelism, UI off) — but keeps shuffle.partitions=8 so
multi-partition behaviour (range repartition, AQE) is actually
exercised.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest

from feature_engineering_poc_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="fepoc-tests", parallelism=8, shuffle_partitions=8)
    yield s


SF_DIR = "/root/testdata/sf0.001"


def last_job_id(spark) -> int:
    """Newest Spark job id in the status store (as perfbench/trace.py reads it)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)


def stages_per_job(spark, after: int) -> list[int]:
    """Stage count of every Spark job newer than job id ``after``."""
    tracker = spark.sparkContext.statusTracker()
    return [len(tracker.getJobInfo(j).stageIds) for j in range(after + 1, last_job_id(spark) + 1)]


def spy_rewrites(monkeypatch, check=None) -> list[tuple[list[dict], list[list[dict]]]]:
    """Record every in-task rewrite job's specs and returned manifest
    rows; ``check(specs, rows)`` runs right after each job, while the
    op's staged inputs still exist."""
    from feature_engineering_poc_spark.lakehouse import compaction

    calls = []
    real = compaction._rewrite_bins_distributed

    def spy(spark, specs):
        rows = real(spark, specs)
        if check is not None:
            check(specs, rows)
        calls.append((specs, rows))
        return rows

    monkeypatch.setattr(compaction, "_rewrite_bins_distributed", spy)
    return calls


def sha256(path) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()
