from __future__ import annotations

import pytest

from datachecker_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores: $SPARK_GRAFT_CPUS, else all of the host's (get_spark's default)
    s = get_spark(shuffle_partitions=8, app_name="doccheck-tests")
    yield s
