import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_rankers_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    # an exception that escapes a helper thread fails the test that leaked it
    config.addinivalue_line("filterwarnings", "error::pytest.PytestUnhandledThreadExceptionWarning")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="llm_rankers_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# oracles that train constants from the data (kmeans-IVF) must derive them
# from the SAME sf the tests compare at
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
