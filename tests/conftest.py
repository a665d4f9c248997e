import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from aira_spark.session import get_spark

    s = get_spark("aira-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_work(spark):
    """count_work(run) -> (jobs, tasks): the Spark jobs `run()` starts and
    the tasks they complete, counted through a job group and the status
    tracker once the listener bus has delivered every event."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = itertools.count()

    def count(run) -> tuple[int, int]:
        group = f"count-work-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            for stage in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(stage)
                tasks += info.numCompletedTasks if info else 0
        return len(jobs), tasks

    return count
