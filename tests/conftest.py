from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mimic_iv_data_pipeline_spark import get_spark  # noqa: E402

SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # driver heap: the library default, min(16g, RAM/2). The optional
    # sf0.1 oracle sweep runs real workloads and in local mode ALL
    # execution memory is the driver heap (PERF.md, "r5 scale probes")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def jobs_started(spark):
    """``jobs_started(build)``: ids of the Spark jobs that ``build()``
    starts, read from a job group on the status tracker."""
    import uuid

    sc = spark.sparkContext

    def started(build) -> list[int]:
        group = f"plan-guard-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs started while building a plan")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return started
