"""Shared Spark session fixture.

Mirrors the reference's test wrapper
(utils/SparkSessionTestWrapper.scala:12-76: shared lazy local session,
tiny shuffle parallelism, UI off) — but keeps shuffle.partitions=8 so
multi-partition behaviour (range repartition, AQE) is actually
exercised.
"""

from __future__ import annotations

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
