from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from m12_kafkastreams_python_azure_spark.pins import query_scope  # noqa: E402
from m12_kafkastreams_python_azure_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _pin_scope():
    """Each test owns one pin scope: the pins its operators make are
    released when the test ends, so no test reads another's caches."""
    with query_scope():
        yield
