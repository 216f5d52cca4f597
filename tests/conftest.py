from __future__ import annotations

import itertools
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

_job_groups = itertools.count()


@pytest.fixture(scope="session")
def spark():
    from ck_spark.session import get_spark

    s = get_spark("ck_spark-tests", cores=4, shuffle_partitions=8)
    yield s


def spark_jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn ran): fn runs inside a job group of
    its own, cleared afterwards however fn ends."""
    sc = spark.sparkContext
    group = f"ck-test-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
