from __future__ import annotations

import pytest

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rtsm-tests", cpus=8, shuffle_partitions=8)
    yield s
