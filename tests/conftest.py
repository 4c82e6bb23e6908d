import shutil
import tempfile

import pytest

from themis_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line("markers", "spark: test drives a live SparkSession")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="themis_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="themis_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
