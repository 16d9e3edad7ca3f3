import os

import pytest

from flink_project_userbehavioranalysis_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run @pytest.mark.slow tests (heavyweight mid-scale "
        "sweeps; default-skipped so the suite fits a CI/driver budget — "
        "their assertions are also covered by tools/check_all.py)",
    )


def runslow_from_env(value: str | None) -> bool:
    """SPARK_GRAFT_RUNSLOW opts in only on an explicit on-value, so
    "0", "false" or an empty string keep the slow tests skipped."""
    return (value or "").strip().lower() in ("1", "true", "yes", "on")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or runslow_from_env(
        os.environ.get("SPARK_GRAFT_RUNSLOW")
    ):
        return
    skip = pytest.mark.skip(
        reason="slow: opt in with --runslow / SPARK_GRAFT_RUNSLOW=1 "
        "(assertions also driven by tools/check_all.py)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ubx-tests", master="local[4]", shuffle_partitions=4, streaming=True)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
