"""Reference-shaped metric fixtures (FIXTURES.md SSA).

Deterministic synthetic replica of the reference's data model: 20 servers x
120 timestamps at 5 s cadence (dataset.csv shape at 1/12 duration), full
timestamps, value ranges straddling the config.yaml:22-26 thresholds.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

ROWS_PER_SERVER = 120
N_SERVERS = 20
BASE_TS = datetime(2024, 1, 1, 20, 53, 0)


def metrics_wide_rows() -> list[tuple]:
    """Per-server regimes so every CASE branch of both jobs is guaranteed
    exercised (thresholds from config.yaml:22-26): regime = (s-1) % 4 —
    0: all low (OK), 1: cpu/net high only, 2: mem/disk high only, 3: both
    high. Ranges sit strictly on one side of each threshold so windowed
    avg (cpu/mem) and max (net/disk) land deterministically."""
    rng = random.Random(1234)
    rows = []
    for i in range(ROWS_PER_SERVER):
        ts = BASE_TS + timedelta(seconds=5 * i)
        for s in range(1, N_SERVERS + 1):
            regime = (s - 1) % 4
            cpu_hi = regime in (1, 3)
            mem_hi = regime in (2, 3)
            rows.append(
                (
                    ts,
                    f"server_{s}",
                    round(rng.uniform(95, 100) if cpu_hi else rng.uniform(0, 90), 2),   # cpu_pct (thr 94.35)
                    round(rng.uniform(80, 100) if mem_hi else rng.uniform(0, 75), 2),   # mem_pct (thr 78.06)
                    round(rng.uniform(5000, 20000) if cpu_hi else rng.uniform(0, 4500), 2),  # net_in (thr 4724.68)
                    round(rng.uniform(0, 24000), 2),                                     # net_out (dropped col)
                    round(rng.uniform(5000, 10000) if mem_hi else rng.uniform(0, 4400), 2),  # disk_io (thr 4563.25)
                )
            )
    return rows


WIDE_COLS = ["ts", "server_id", "cpu_pct", "mem_pct", "net_in", "net_out", "disk_io"]


def metrics_wide_df(spark):
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (
        schemas,
    )

    return spark.createDataFrame(metrics_wide_rows(), schemas.METRICS_WIDE)


def narrow_splits(wide):
    """The producer's wide->narrow fan-out (producer.py:68-71) as selects."""
    cpu = wide.select("ts", "server_id", "cpu_pct")
    mem = wide.select("ts", "server_id", "mem_pct")
    net = wide.select("ts", "server_id", "net_in", "net_out")
    disk = wide.select("ts", "server_id", "disk_io")
    return cpu, mem, net, disk


def write_csv_batch(df, path):
    """Append a DataFrame as one CSV file into a file-stream source dir
    (each call = one arriving 'micro-batch' file for readStream tests)."""
    df.coalesce(1).write.mode("append").csv(path, header=False)


# Spark's default checkpoint file manager, which local sessions replace.
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)


def checkpoint_manager(spark, path) -> str:
    """Class name of the checkpoint file manager Spark builds for the
    local ``path`` from the session's Hadoop conf, the conf its streaming
    queries and state stores receive."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file:{path}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getSimpleName()
