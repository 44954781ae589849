"""Shared fixtures: one SparkSession per test session."""

from __future__ import annotations

import os

import pytest

from crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # get_spark's default heap (24g) lets the JVM grow to 11.8 GB RSS over
    # the full suite, enough to run a 16 GB machine out of memory. With 6g
    # the suite passes in the same time (4 vCPU) and the JVM peaks at
    # 7.0-7.5 GB. An explicit setting still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark(app_name="crawler_spark-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
