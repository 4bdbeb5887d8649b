import time

import pytest

from neuroner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # 6g, not get_spark's 8g default: at 8g the suite's one JVM grew to
    # 9.7 GB RSS on a 15 GB, 4-core box, leaving too little memory for
    # a second session (an oracle check, a benchmark run) beside it.
    # At 4g, test_band_store_compaction ran out of execution memory in
    # the full suite, though it passes on its own.
    s = get_spark(
        "neuroner_spark_tests",
        cores=4,
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "6g"},
    )
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
