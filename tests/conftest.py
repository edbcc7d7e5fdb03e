import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from serd_spark.session import get_spark

    s = get_spark("serd_spark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="serd_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def pytest_terminal_summary(terminalreporter):
    """Say whether the W3C/serd suite corpus was there, so a green run
    without it is not read as a conformance pass."""
    from serd_spark.suites import REFERENCE_TEST_DIR

    terminalreporter.write_line(
        "conformance: RAN" if os.path.isdir(REFERENCE_TEST_DIR)
        else "conformance: SKIPPED (suite corpus absent)")
