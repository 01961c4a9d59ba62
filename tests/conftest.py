import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ferret_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=4, app_name="ferret-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def jobs_in_group(sc, group: str) -> list:
    """Spark job ids run under ``group``. The status store is fed by the
    asynchronous listener bus, so drain the bus before reading it."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))
