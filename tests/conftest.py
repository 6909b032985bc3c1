import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deduplipy_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deduplipy-spark-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def await_available_now():
    """Wait for a ``trigger(availableNow=True)`` query: fail unless it ends
    on its own within ``timeout`` s, and never leave it running in the
    shared session."""
    def wait(q, timeout):
        try:
            assert q.awaitTermination(timeout), (
                f"availableNow query still running after {timeout} s")
        finally:
            q.stop()
    return wait
