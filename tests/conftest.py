import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from raster_functions_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rfs-tests", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)`` → ``(fn(), number of Spark jobs fn started)``,
    counted under a job group of its own with the listener bus drained."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-{os.urandom(4).hex()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture
def tied_corpus():
    """Ten identical vectors (ids 100–109, exact score ties straddling any
    small k) plus one far vector (id 200), and the tied vector as the one
    query: every exhaustive top-3 must answer [100, 101, 102]."""
    vec = [1.0, 2.0, 3.0, 4.0]
    rows = [(100 + i, vec) for i in range(10)]
    rows += [(200, [-1.0, 0.0, 0.0, 1.0])]
    return rows, vec
