import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from levi_spark.session import get_spark

FIXTURES = "/root/reference/tests/reader_tests/generated"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="levi-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixtures_dir():
    # delta-rs-written golden tables (FIXTURES.md, section A); they are
    # not in the repository, so their tests skip where the path is absent.
    if not os.path.isdir(FIXTURES):
        pytest.skip(f"delta-rs golden tables not found at {FIXTURES}")
    return FIXTURES


@pytest.fixture(scope="session")
def testdata_dir():
    return TESTDATA
