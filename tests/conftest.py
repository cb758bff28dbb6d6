from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache___solr_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    cores = min(int(os.environ.get("TEST_CORES", "8")), os.cpu_count() or 1)
    s = get_spark("tests", cores=cores)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
