import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The engine's default driver heap (SPARK_DRIVER_MEM=48g) suits a large host.
# G1 grows the heap toward that cap as a long session allocates, so on a
# small host the test JVM's resident memory can outgrow physical RAM over a
# full run. Cap it at a third of physical memory, for this session and the
# Spark subprocesses tests start; an explicit setting wins.
_PHYS_GIB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(2, _PHYS_GIB // 3)}g")


@pytest.fixture(scope="session")
def spark():
    from sparkforward.session import get_spark

    s = get_spark(app_name="sparkforward-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
