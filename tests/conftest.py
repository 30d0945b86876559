from __future__ import annotations

import os

import pytest

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Process-level ITEM shard: SPARK_GRAFT_FILE_SHARD="s/n" keeps
    collected items with index % n == s, so run_suite.sh can split a
    single big file (test_oracle_parity.py; test_streaming.py, whose wall
    clock is mostly micro-batch trigger WAITS) across pytest processes.
    Interleaved by collection index so every shard draws from the whole
    file. Unset = everything (CI default and any direct pytest run). It
    applies to all items the process collected, so only set it for
    groups whose EVERY file is meant to shard (the suite-coverage pin in
    test_suite_hygiene.py enforces that multi-listed files form complete
    0..n-1 covers)."""
    spec = os.environ.get("SPARK_GRAFT_FILE_SHARD")
    if not spec:
        return
    s, n = (int(x) for x in spec.split("/"))
    keep = [it for i, it in enumerate(items) if i % n == s]
    drop = [it for i, it in enumerate(items) if i % n != s]
    items[:] = keep
    if drop:
        config.hook.pytest_deselected(items=drop)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rtsm-tests", cpus=8, shuffle_partitions=8)
    yield s
