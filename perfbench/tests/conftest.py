"""Benchmark self-tests: ``python -m pytest perfbench/tests -q`` from the
repository root."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        apply_runtime_confs,
    )

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    apply_runtime_confs(s)
    yield s
    s.stop()
