from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dwh_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: opt-in lane (scale smokes, property sweeps, exhaustive "
        "batteries) — run with DWH_RUN_SLOW=1 or --runslow; the default "
        "lane must finish inside the driver's verify budget",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (the opt-in lane)",
    )


def pytest_collection_modifyitems(config, items):
    from tests.slow_lane import SLOW_TESTS

    run_slow = (
        config.getoption("--runslow") or os.environ.get("DWH_RUN_SLOW") == "1"
    )
    skip = pytest.mark.skip(
        reason="slow lane: set DWH_RUN_SLOW=1 or pass --runslow"
    )
    for item in items:
        in_lane = "slow" in item.keywords or item.nodeid in SLOW_TESTS
        if in_lane:
            item.add_marker(pytest.mark.slow)
            if not run_slow:
                item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("dwh-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


def n_jobs(spark, group: str) -> int:
    """Spark jobs launched so far under job group ``group``."""
    sc = spark.sparkContext
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def n_tasks(spark, group: str) -> int:
    """Tasks run so far under job group ``group``: ``numTasks`` summed
    over the group's distinct stages, leaving out skipped stages (a
    reused shuffle's map stage is listed in the job but runs nothing)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    }
    infos = [tracker.getStageInfo(s) for s in stages]
    return sum(i.numTasks for i in infos if i is not None and i.numCompletedTasks)


def under_group(spark, group: str, fn):
    """Run ``fn`` with its jobs tagged ``group``; return (result, jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, n_jobs(spark, group)
