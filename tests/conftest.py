import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medical_examination_data_etl_system_spark import get_spark  # noqa: E402
from medical_examination_data_etl_system_spark.operators.cache import release_all  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="medical_examination_data_etl_system_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(autouse=True)
def _release_unscoped_frames():
    """Unpersist what a test persisted outside any ``cache_scope``: such
    frames would hold cache memory for the rest of the run, and a later
    request with the same payload (a constant plan) would reuse them."""
    yield
    release_all()
