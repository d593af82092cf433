from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssidentity_spark.session import get_spark  # noqa: E402

# Slow tier: the default run skips the tests listed in tests/slow_tests.txt
# (each >=3 s in a full-suite census) so Tier-1 stays well inside its
# timeout; `--runslow` runs them too. Every oracle case in
# tests/test_queries_oracle.py runs in the default tier.
_SLOW_LIST_PATH = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _slow_ids() -> frozenset[str]:
    if not os.path.exists(_SLOW_LIST_PATH):
        return frozenset()
    with open(_SLOW_LIST_PATH) as f:
        return frozenset(
            line.strip()
            for line in f
            if line.strip() and not line.startswith("#")
        )


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run the census-listed slow tests too (the full suite)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    slow = _slow_ids()
    if not slow:
        return
    marker = pytest.mark.skip(
        reason="slow tier — run with --runslow"
    )
    for item in items:
        if item.nodeid in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ssidentity-tests", cores=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def observations(spark):
    from ssidentity_spark.fixtures import observations_df

    df = observations_df(spark, n_rows=4000).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def raw_frames(spark):
    from ssidentity_spark.fixtures import raw_frames_df

    df = raw_frames_df(spark, n_extra=100).cache()
    df.count()
    return df
