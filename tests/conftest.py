from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from commoncrawl_crawler_spark.session import build_session

    s = build_session(app_name="ccspark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture
def count_jobs(spark):
    """count_jobs(action) -> how many Spark jobs `action()` ran, counted
    through a job group and the public statusTracker()."""
    import uuid

    sc = spark.sparkContext

    def run(action) -> int:
        # a fresh group per call: the tracker keeps every finished job
        group = f"ccspark-count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
