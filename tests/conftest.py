import time

import pytest

from neuroner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("neuroner_spark_tests", cores=4, shuffle_partitions=4)
    yield s


def _pinned_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.fixture
def new_pinned(spark):
    """Poll for the RDDs pinned since the fixture was created.

    Call it with the number of pins the test's result still reads; it
    returns the ids still pinned, polling up to 5 s while there are
    more (a non-blocking release lands a little later).  Earlier
    tests' blocks freed by ContextCleaner meanwhile do not count: RDD
    ids only grow, so only ids newer than the fixture are compared."""
    before = _pinned_ids(spark)

    def poll(allowed: int) -> set:
        for _ in range(50):
            new = _pinned_ids(spark) - before
            if len(new) <= allowed:
                break
            time.sleep(0.1)
        return new

    return poll


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
