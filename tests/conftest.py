from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from typebus_spark import get_spark

    s = get_spark(app_name="typebus-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def compiled_classes(spark) -> int:
    """Classes Spark has compiled from generated code in this JVM so far
    (``CodegenMetrics``); a codegen-cache hit compiles none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
