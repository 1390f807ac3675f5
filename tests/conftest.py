import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from sparkforward.session import get_spark

    s = get_spark(app_name="sparkforward-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
