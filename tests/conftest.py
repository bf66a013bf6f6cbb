import itertools

import pytest

from xtract import session

_groups = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = session.build(app="xtract-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{next(_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
