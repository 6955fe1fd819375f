import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wetsa_cams_solrad_timeseries_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns how many Spark jobs it
    submitted: the jobs tagged with a job group set on the calling thread,
    plus new jobs with no group at all — those come from threads that did
    not inherit the tag (e.g. a Python thread pool), so a loop moved onto
    worker threads is still counted."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # Job-start events reach the status store through the listener bus;
    # drain it so every submitted job is seen.
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        drain()
        untagged = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        drain()
        return len(tracker.getJobIdsForGroup(group)) + len(
            set(tracker.getJobIdsForGroup(None)) - untagged
        )

    return count
