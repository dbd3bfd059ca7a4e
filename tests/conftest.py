from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fortune_500_financial_insights_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="f500-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Make the default selection visible: pytest.ini deselects the tests
    marked ``slow``, so say how many were left out and how to run them."""
    n = len(terminalreporter.stats.get("deselected", []))
    if n and "not slow" in (config.getoption("markexpr") or ""):
        terminalreporter.write_line(
            f"{n} tests deselected by the default '-m \"not slow\"'; "
            "run the full suite with: python -m pytest tests/ -q -o addopts="
        )
