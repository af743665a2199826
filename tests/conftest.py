from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_scraper_spark.session import get_spark

SF_DIR_SMOKE = "/root/testdata/sf0.001"
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SMOKE_DIR", SF_DIR_SMOKE)
#: fixtures through which a test reaches the parquet fixture directory
FIXTURE_USERS = frozenset({"sf_dir", "smoke_dir"})


def pytest_collection_modifyitems(config, items):
    """Most suites read the driver-generated parquet fixture
    (TESTDATA.md: deterministic, read-only, NOT regenerable from this
    repo). On hosts without it — e.g. a bare CI runner — skip the tests
    that request one of ``FIXTURE_USERS`` rather than fail at the first
    load(); fixture-free tests, Spark ones included, still run. Point
    SPARK_GRAFT_TEST_SF_DIR (oracle suites) and SPARK_GRAFT_TEST_SMOKE_DIR
    (smoke suites) at a fixture to opt back in, or at a missing directory
    to see what a runner without the fixture runs."""
    missing = [d for d in (SF_DIR_SMOKE, SF_DIR_ORACLE) if not os.path.isdir(d)]
    if missing:
        skip = pytest.mark.skip(
            reason=f"test fixture parquet absent: {', '.join(sorted(set(missing)))}"
        )
        for item in items:
            if FIXTURE_USERS & set(getattr(item, "fixturenames", ())):
                item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "pytest",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            # full PushedFilters/ReadSchema in plan strings (test_plans)
            "spark.sql.maxMetadataStringLength": "10000",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR_ORACLE


@pytest.fixture(scope="session")
def smoke_dir() -> str:
    return SF_DIR_SMOKE
