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
def tied_corpus():
    """Ten identical vectors (ids 100–109, exact score ties straddling any
    small k) plus one far vector (id 200), and the tied vector as the one
    query: every exhaustive top-3 must answer [100, 101, 102]."""
    vec = [1.0, 2.0, 3.0, 4.0]
    rows = [(100 + i, vec) for i in range(10)]
    rows += [(200, [-1.0, 0.0, 0.0, 1.0])]
    return rows, vec
