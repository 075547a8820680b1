from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from spark_deal_observer_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


def pytest_terminal_summary(terminalreporter):
    """Make the default tier's gap visible: pytest.ini's `-m "not slow"`
    deselects the crash, replay and soak tests on every plain run."""
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow-tier tests deselected; run them with: "
            'pytest tests/ -m "slow or not slow"'
        )
