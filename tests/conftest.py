import pytest

from gnocchi_spark.session import get_spark


def pytest_report_header(config):
    """Say which test tier runs: pyproject's addopts deselect ``slow``."""
    expr = config.getoption("markexpr")
    if expr == "not slow":
        return (
            "tier: fast - the default run excludes tests marked slow; "
            'include them with -m "slow or not slow"'
        )
    return f"tier: -m {expr!r}" if expr else "tier: all tests (no -m filter)"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gnocchi-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir_mid():
    return "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _stop_leftover_streams():
    """Stop any streaming query a test leaves running, so it does not keep
    launching micro-batches under the tests that follow."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        for q in session.streams.active:
            q.stop()
