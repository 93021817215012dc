"""Shared fixtures. One session-scoped SparkSession keeps the suite fast."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


def pytest_configure(config):
    config.addinivalue_line("markers", "spark: test needs a SparkSession")


@pytest.fixture(scope="session")
def spark():
    from core_spark.session import spark_session

    s = spark_session("local[4]", driver_memory="4g")
    yield s
    s.stop()
