"""The correctness gate accepts true results and catches corrupted ones."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

import gate
import loadgen
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (
    schemas,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    monitoring as ops,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
    parse,
)


def _events(seed: int, topic: str, ticks: int = 30, servers: int = 4) -> list:
    gen = loadgen.Generator(seed, servers, [topic])
    return [(ts, server, vals, 0) for k in range(ticks) for ts, server, vals in gen.tick(k)[topic]]


def test_digest_is_order_insensitive_and_catches_a_changed_value():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 2.25)]
    cols = ["id", "name", "x"]
    base = gate.digest(cols, rows)
    assert gate.digest(cols, list(reversed(rows))) == base
    assert gate.digest(list(reversed(cols)), [tuple(reversed(r)) for r in rows]) == base
    assert gate.digest(cols, [(1, "a", 0.5), (2, "b", None), (3, "c", 2.26)]) != base
    assert gate.digest(cols, rows[:2]) != base
    assert gate.digest(cols, rows + [rows[0]]) != base


def test_spark_and_duckdb_digests_agree_and_corruption_shows(spark):
    sql = ("SELECT * FROM (VALUES (1, 'a', 0.5, TIMESTAMP '2024-01-01 00:00:05'), "
           "(2, 'b', NULL, TIMESTAMP '2024-01-02 10:00:00')) t(id, name, x, ts)")
    want = gate.duckdb_digest(duckdb.connect(), sql)
    df = spark.sql(sql)
    assert gate.arrow_digest(df.toArrow()) == want
    corrupted = df.withColumn("x", F.when(F.col("id") == 1, 0.51).otherwise(F.col("x")))
    assert gate.arrow_digest(corrupted.toArrow()) != want


def test_store_fingerprint_catches_dropped_duplicated_and_changed_rows(spark):
    rows = _events(3, "net")
    landed = gate.events_frame(spark, rows, "net", schemas.METRICS_NET)
    assert gate.check_store(landed, rows, "net") == (len(rows), 0)
    dropped = landed.limit(len(rows) - 1)
    duplicated = landed.union(landed.limit(1))
    changed = landed.withColumn(
        "net_out", F.when(F.col("server_id") == "server_0", F.col("net_out") + 0.01)
        .otherwise(F.col("net_out")))
    for bad in (dropped, duplicated, changed):
        attempted, failed = gate.check_store(bad, rows, "net")
        assert attempted == len(rows) and failed > 0


def test_alert_check_catches_corrupted_rows(spark):
    cpu = gate.events_frame(spark, _events(5, "cpu"), "cpu", schemas.METRICS_CPU)
    mem = gate.events_frame(spark, _events(6, "mem"), "mem", schemas.METRICS_MEM)
    expected = ops.cpu_mem_job(cpu, mem).cache()
    n = expected.count()
    cols = ["avg_cpu", "avg_mem"]
    assert gate.check_alerts(expected, expected, cols) == (n, 0)
    first = expected.orderBy(*gate.KEYS).first()
    is_first = ((F.col("server_id") == first["server_id"])
                & (F.col("window_start") == first["window_start"]))
    corruptions = [
        expected.withColumn("avg_cpu", F.when(is_first, F.col("avg_cpu") + 0.5)
                            .otherwise(F.col("avg_cpu"))),
        expected.withColumn("alert", F.when(is_first, F.lit("OK!")).otherwise(F.col("alert"))),
        expected.withColumn("avg_mem", F.when(is_first, F.lit(None)).otherwise(F.col("avg_mem"))),
        expected.withColumn("alert", F.when(is_first, F.lit(None)).otherwise(F.col("alert"))),
        expected.filter(~is_first),
        expected.union(expected.filter(is_first)),
    ]
    for bad in corruptions:
        assert gate.check_alerts(expected, bad, cols) == (n, 1)
    # Extra rows the stream should not have emitted also count.
    extra = expected.union(expected.filter(is_first).withColumn("server_id", F.lit("ghost")))
    assert gate.check_alerts(expected, extra, cols)[1] == 1


def test_closed_windows_keeps_windows_ending_at_the_watermark(spark):
    cpu = gate.events_frame(spark, _events(7, "cpu", ticks=12), "cpu", schemas.METRICS_CPU)
    mem = gate.events_frame(spark, _events(8, "mem", ticks=12), "mem", schemas.METRICS_MEM)
    out = ops.cpu_mem_job(cpu, mem)
    wm = loadgen.BASE_TS.timestamp() + 30
    ends = {r[0] for r in gate.closed_windows(out, wm)
            .select(F.unix_timestamp("window_end")).collect()}
    assert ends == {int(wm) - 20, int(wm) - 10, int(wm)}


def test_engine_parser_reads_the_generator_wire_format(spark, tmp_path):
    out = str(tmp_path / "backlog")
    loadgen.generate_backlog(out, 9, "warm")
    for topic, schema in (("cpu", schemas.METRICS_CPU), ("mem", schemas.METRICS_MEM)):
        records = spark.read.schema("topic STRING, value STRING").json(f"{out}/topic-{topic}")
        parsed = parse.demux_topic(records, f"topic-{topic}", topic)
        rows = loadgen.read_events(out, topic)
        assert parsed.filter(F.col("ts").isNull()).count() == 0
        assert gate.check_store(parsed, rows, topic) == (len(rows), 0)
        assert gate.fingerprint_df(parsed, topic) == gate.fingerprint_df(
            gate.events_frame(spark, rows, topic, schema), topic)


def test_oracle_gate_counts_a_wrong_query_output():
    import run

    oracle = {"q1": "aa", "q2": "bb"}
    result = {"attempted": 5, "failed": 0, "digests": {"q1": "aa", "q2": "bb"}}
    run.check_digests(result, oracle)
    assert (result["attempted"], result["failed"]) == (7, 0)
    result = {"attempted": 5, "failed": 0, "digests": {"q1": None, "q2": "xx"}}
    run.check_digests(result, oracle)
    assert (result["attempted"], result["failed"]) == (7, 2)


def test_fingerprint_rows_is_exact_in_cents():
    rows = _events(4, "disk", ticks=5)
    rng = random.Random(0)
    i = rng.randrange(len(rows))
    ts, server, vals, created = rows[i]
    changed = rows[:i] + [(ts, server, [round(vals[0] + 0.01, 2)], created)] + rows[i + 1:]
    assert gate.fingerprint_rows(changed, "disk") != gate.fingerprint_rows(rows, "disk")
