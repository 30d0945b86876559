"""Helpers shared by the workloads: topic streams, the stamped sink,
percentiles and the reading of Spark's streaming progress."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

from spans import parse_ts

RECORD_SCHEMA = "topic STRING, value STRING"


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def topic_stream(spark, root: str, topic: str, tracer):
    """A file stream of one topic's Kafka-shaped records, demuxed and parsed
    by ``streaming.parse.demux_topic``."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
        parse,
    )

    records = spark.readStream.schema(RECORD_SCHEMA).json(os.path.join(root, f"topic-{topic}"))
    with tracer.span("streaming.parse", f"demux_topic:{topic}"):
        return parse.demux_topic(records, f"topic-{topic}", topic)


class StampedSink:
    """Append sink for ``foreachBatch``: a micro-batch is collected in the
    driver as Arrow and stamped with its emission time. ``flush()`` writes
    the batches as parquet under ``<out>/batch_id=N`` once the stream has
    stopped, so the sink adds no file commit to a trigger."""

    def __init__(self, out: str):
        self.out = out
        self.emitted: dict[int, float] = {}
        self.batches: dict = {}

    def __call__(self, df, batch_id: int) -> None:
        self.batches[batch_id] = df.toArrow()
        self.emitted[batch_id] = time.time()

    def flush(self) -> None:
        for batch_id, table in self.batches.items():
            d = os.path.join(self.out, f"batch_id={batch_id}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(table, os.path.join(d, "part-0.parquet"))
        self.batches = {}


def run_available_now(writers: dict, tracer) -> dict:
    """Start every stream with ``Trigger.availableNow`` at once, wait until
    all have drained, and return each one's progress (parsed JSON)."""
    with tracer.span("streaming.jobs", "drain:" + ",".join(map(str, writers))):
        queries = {k: w.queryName(f"{k}_{os.getpid()}_{time.time_ns()}")
                   .trigger(availableNow=True).start() for k, w in writers.items()}
        for q in queries.values():
            q.awaitTermination()
    for k, q in queries.items():
        if q.exception() is not None:
            raise RuntimeError(f"stream {k} failed: {q.exception()}")
    return {k: progress_of(q) for k, q in queries.items()}


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def watermark_s(progress: list[dict]) -> float:
    marks = [parse_ts(p["eventTime"]["watermark"]) for p in progress
             if p.get("eventTime", {}).get("watermark")]
    return max(marks, default=0.0)


def trigger_stats(progress: list[dict]) -> dict:
    """Per-layer figures from ``StreamingQueryProgress`` entries."""
    def dur(key):
        return [p.get("durationMs", {}).get(key, 0) for p in progress]

    join_rows, window_rows, mem, commit, dropped = [], [], [], [], 0
    for p in progress:
        ops = p.get("stateOperators", [])
        join_rows += [o["numRowsTotal"] for o in ops if "Join" in o["operatorName"]]
        window_rows += [o["numRowsTotal"] for o in ops if "Join" not in o["operatorName"]]
        mem.append(sum(o.get("memoryUsedBytes", 0) for o in ops))
        commit.append(sum(o.get("commitTimeMs", 0) for o in ops))
        dropped += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return {
        "trigger.count": len(progress),
        "trigger.exec_ms_p50": pct(dur("triggerExecution"), 50),
        "trigger.exec_ms_p99": pct(dur("triggerExecution"), 99),
        "trigger.planning_ms_p50": pct(dur("queryPlanning"), 50),
        "trigger.wal_commit_ms_p50": pct(dur("walCommit"), 50),
        "trigger.commit_offsets_ms_p50": pct(dur("commitOffsets"), 50),
        "source.latest_offset_ms_p50": pct(dur("latestOffset"), 50),
        "source.get_batch_ms_p50": pct(dur("getBatch"), 50),
        "sink.add_batch_ms_p50": pct(dur("addBatch"), 50),
        "join.state_rows": max(join_rows, default=0),
        "window.state_rows": max(window_rows, default=0),
        "state.memory_bytes": max(mem, default=0),
        "state.commit_ms_p50": pct(commit, 50),
        "state.dropped_by_watermark": dropped,
    }


def tree_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the ``suffix`` files under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
