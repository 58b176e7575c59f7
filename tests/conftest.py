"""Shared test fixtures — one SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
# The suite's data is small. With the engine's default 8g driver heap the
# one JVM grew to 14.7 GB RSS by the DFS tests and was OOM-killed on a
# 16 GB, 4-core box; with a 4g heap it peaks near 4 GB over the suite.
os.environ.setdefault("RODDY_DRIVER_MEM", "4g")

TESTDATA = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from roddy_spark.session import build_session

    s = build_session(app_name="roddy-spark-tests", cores=4,
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture(scope="session")
def compiled_classes(spark):
    """Reads the JVM's running count of classes Spark's codegen compiled
    (whole-stage and expression code; a class served from the codegen
    cache is not counted)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount
