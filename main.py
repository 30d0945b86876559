#!/usr/bin/env python
"""CLI dispatcher — drop-in replacement for the reference's ``main.py``.

Same roles as ``/root/reference/main.py:13-48`` (``producer``,
``consumer1``, ``consumer2``, ``spark-job1``, ``spark-job2``), same
``config.yaml`` layout, but every leg is Spark-native:

- ``producer``   — wide metrics CSV -> 4 narrow (topic, value) wire streams
                   -> batch Kafka sink (replaces the kafka-python replay
                   loop, producer.py:61-86). ``--dry-run`` lands the wire
                   messages as parquet instead, so the full transform runs
                   without a broker.
- ``consumer1/2``— Structured Streaming Kafka source -> topic demux ->
                   typed CSV landing with checkpointed offsets (replaces
                   the poll/append/flush consumers; exactly-once instead of
                   auto-commit at-most-once).
- ``spark-job1/2``— batch analytics over the landed files: join -> sliding
                   window agg -> CASE alerts -> CSV (spark_job1.py /
                   spark_job2.py semantics, explicit schemas, no
                   inferSchema).
- ``stream-job1/2``— bonus: both reference jobs as continuous pipelines
                   (Kafka -> parse -> one windowed agg over both topics,
                   pairing rows by ts -> alerts), which the reference's
                   design doc aspired to but never wired up.

Usage: python main.py <role> [--config config.yaml] [--parquet] [--dry-run]
"""

from __future__ import annotations

import argparse
import functools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (  # noqa: E402
    config as cfg,
    schemas,
    session,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (  # noqa: E402
    monitoring as ops,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (  # noqa: E402
    kafka as kafka_io,
    readers,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (  # noqa: E402
    parse,
)

ROLES = (
    "producer",
    "consumer1",
    "consumer2",
    "spark-job1",
    "spark-job2",
    "stream-job1",
    "stream-job2",
    "query",
    "sql",
    "layout",
)

def _pair(role: str) -> ops.AlertPair:
    """consumerN, spark-jobN and stream-jobN serve the reference's Nth
    metric pair (consumer1.py / spark_job1.py: cpu+mem; *2: net+disk).
    Topics, landed stems, outputs and checkpoints derive from its metrics."""
    return ops.ALERT_PAIRS[int(role[-1]) - 1]


def wire_messages(spark, config: cfg.PipelineConfig):
    """The producer's wide->narrow fan-out (producer.py:68-71) as one
    DataFrame: union of per-topic (topic, value) CSV messages."""
    wide = readers.read_metrics_csv(spark, config.paths.data_file, "wide")
    parts = [
        parse.to_wire(wide, metric, config.kafka.topic(metric))
        for metric in schemas.TOPIC_SCHEMAS
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def run_producer(spark, config: cfg.PipelineConfig, dry_run: bool) -> dict:
    """Fan out + deliver, then report run statistics mirroring the
    reference's producer instrumentation (producer.py:90-104): total
    records, elapsed, records/sec, per-topic delivered/error counts.

    Delivery accounting: the reference counts per-message async callbacks;
    the Spark batch sink is transactional per topic-partition write with
    acks=all, so a completed save() means every message was acked
    (errors=0) and a raised exception means the job did not commit.
    """
    import time

    wire = wire_messages(spark, config)
    start = time.time()
    if dry_run:
        dest = os.path.join(config.paths.output_dir, "wire_messages")
        wire.write.mode("overwrite").parquet(dest)
        delivered = spark.read.parquet(dest)  # count what actually landed
    else:
        kafka_io.require_kafka_connector(spark)
        # Persist before the save so the stats below count the SAME
        # materialization that was written — without it the groupBy would
        # rescan the source, and the printed "delivered" numbers could
        # diverge from what Kafka actually received.
        wire = wire.persist()
        (
            wire.write.format("kafka")
            .option("kafka.bootstrap.servers", config.kafka.broker)
            .option("kafka.compression.type", "snappy")
            .option("kafka.acks", "all")
            .save()
        )
        delivered = wire
    by_topic = {
        r["topic"]: r["count"] for r in delivered.groupBy("topic").count().collect()
    }
    if not dry_run:
        wire.unpersist()
    elapsed = time.time() - start
    total_messages = sum(by_topic.values())
    # One message per source record per topic (producer.py:68-71 fan-out).
    total_records = by_topic.get(config.kafka.topic_cpu, 0)
    stats = {
        "total_records": total_records,
        "total_messages": total_messages,
        "by_topic": by_topic,
        "elapsed_sec": elapsed,
        "records_per_sec": total_records / elapsed if elapsed > 0 else 0.0,
    }
    mode = "dry-run -> " + os.path.join(config.paths.output_dir, "wire_messages") if dry_run else f"kafka -> {config.kafka.broker}"
    print("=" * 60)
    print(f"FINAL PRODUCER STATISTICS ({mode}):")
    print(f"Total records processed: {total_records}")
    print(f"Total messages delivered: {total_messages}")
    print(f"Total time: {elapsed:.2f} seconds")
    if elapsed > 0:
        print(f"Average throughput: {total_records / elapsed:.2f} records/sec")
    print("-" * 20)
    for topic in config.kafka.all_topics:
        print(f"{topic}: {by_topic.get(topic, 0)} delivered | 0 errors")
    print("=" * 60)
    return stats


def run_consumer(spark, config: cfg.PipelineConfig, role: str, parquet: bool = False) -> None:
    """Kafka -> demux -> typed landing, one streaming query per topic.

    CSV landing is the reference-parity default (consumer1.py:30-36);
    ``--parquet`` lands columnar instead — the scale path (splittable,
    compressed, pruned on read by the downstream jobs).
    """
    kafka_io.require_kafka_connector(spark)
    metrics = _pair(role).metrics
    records = kafka_io.kafka_source(
        spark, config.kafka, topics=[config.kafka.topic(m) for m in metrics]
    ).load()
    queries = []
    for metric in metrics:
        stem = f"{metric}_data"
        landed = parse.demux_topic(records, config.kafka.topic(metric), metric)
        writer = (
            landed.writeStream.format("parquet" if parquet else "csv")
            .option("path", os.path.join(config.paths.output_dir, stem))
            .option(
                "checkpointLocation",
                os.path.join(config.paths.output_dir, f"_checkpoint_{stem}"),
            )
        )
        if not parquet:
            writer = writer.option("header", "true")
        queries.append(writer.start())
    for q in queries:
        q.awaitTermination()


def _landed(spark, config: cfg.PipelineConfig, metric: str):
    """Read a landed metric table; accepts our ``<metric>_data`` directory
    landing (CSV or parquet, per the consumer's --parquet flag) and the
    reference's single ``<metric>_data.csv`` file."""
    path = os.path.join(config.paths.output_dir, f"{metric}_data")
    if not os.path.exists(path) and os.path.exists(path + ".csv"):
        path = path + ".csv"
    schema = schemas.TOPIC_SCHEMAS[metric]
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return spark.read.schema(schema).parquet(path)
    return spark.read.schema(schema).csv(path, header=True)


def run_spark_job(
    spark,
    config: cfg.PipelineConfig,
    role: str,
    parquet: bool,
    float32_parity: bool = False,
) -> None:
    pair = _pair(role)
    result = ops.alert_job(
        pair,
        *[_landed(spark, config, m) for m in pair.metrics],
        config=config,
        time_format="HH:mm:ss",
        float32_parity=float32_parity,
    )
    if parquet:
        dest = os.path.join(config.paths.output_dir, f"{pair.name}_alerts")
        readers.write_partitioned_parquet(result, dest)
    else:
        # CSV is the drop-in parity path: reference output naming
        # (spark_job1.py:56-57, team_number from config.yaml:1).
        dest = os.path.join(
            config.paths.output_dir, f"team_{config.team_number}_{pair.name.upper()}.csv"
        )
        readers.write_single_csv(result, dest)
    print(f"{role}: alerts -> {dest}")


def run_stream_job(spark, config: cfg.PipelineConfig, role: str) -> None:
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
        jobs,
    )

    kafka_io.require_kafka_connector(spark)
    pair = _pair(role)
    checkpoint = os.path.join(config.paths.output_dir, f"_checkpoint_{role}")
    jobs.refuse_join_checkpoint(spark, checkpoint)
    topics = [config.kafka.topic(m) for m in pair.metrics]
    records = kafka_io.kafka_source(spark, config.kafka, topics=topics).load()
    alerts = jobs.streaming_alert_job(
        pair,
        *[parse.demux_topic(records, t, m) for t, m in zip(topics, pair.metrics)],
        config=config,
    )
    (
        alerts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(config.paths.output_dir, f"{pair.name}_alerts_stream"))
        .option("checkpointLocation", checkpoint)
        .start()
        .awaitTermination()
    )


def run_query(spark, args) -> None:
    """The ad-hoc analytics entrypoint: run any registered engine query
    by name against a testdata-layout directory and show or persist the
    result — what a reference user reaches for instead of editing
    spark_job1.py. ``--list`` enumerates the registry."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        all_queries,
    )

    _finish(all_queries()[args.name](spark, args.sf_dir), args, args.name)


def run_sql(spark, args) -> None:
    """Ad-hoc SQL over the testdata catalog: every table registered as a
    temp view, then ONE statement from ``--query`` (or a file via
    ``--query-file``) runs through the same Catalyst pipeline as the named
    queries — pushdown, pruning, AQE and the optional scale guard all
    apply. The escape hatch for queries the registry doesn't name."""
    sql = args.query
    if not sql and args.query_file:
        with open(args.query_file) as fh:
            sql = fh.read()
    if not sql or not sql.strip():
        raise SystemExit("sql: provide a statement via --query or --query-file")
    readers.register_views(spark, args.sf_dir)
    _finish(spark.sql(sql), args, "sql")


def _finish(df, args, label: str) -> None:
    """The query and sql roles' shared tail: the optional scale check,
    then the formatted plan (``--explain``), a parquet write (``--out``)
    or the first rows."""
    if args.scale_check:
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
            assert_scale_safe,
        )

        report = assert_scale_safe(df)
        print(
            f"scale-check ok: exchanges={report['exchanges']} "
            f"broadcast_joins={report['broadcast_joins']} "
            f"python_stages={report['python_stages']}"
        )
    if args.explain:
        df.explain("formatted")
    elif args.out:
        readers.write_partitioned_parquet(df, args.out)
        print(f"{label}: wrote {args.out}")
    else:
        df.show(args.show_rows, truncate=False)


def run_layout(spark, args) -> None:
    """Table-maintenance probe: the small-file/layout health report for a
    landed parquet store (``--path``), sorted worst-fragmented first."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        file_layout_report,
    )

    report = file_layout_report(
        spark, args.path, small_file_bytes=args.small_bytes
    ).orderBy(F.col("n_small_files").desc(), F.col("n_files").desc())
    report.show(args.show_rows, truncate=False)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("role", choices=ROLES)
    ap.add_argument("--config", help="reference-layout config.yaml")
    ap.add_argument("--name", help="query: registered query name to run")
    ap.add_argument("--query", help="sql: the SQL statement to run over the testdata views")
    ap.add_argument("--query-file", help="sql: file holding the SQL statement")
    ap.add_argument("--path", help="layout: parquet store directory to report on")
    ap.add_argument(
        "--small-bytes",
        type=int,
        default=32 * 1024 * 1024,
        help="layout: files below this size count as small (default 32 MiB)",
    )
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="query: testdata-layout directory (default sf0.001)",
    )
    ap.add_argument("--out", help="query: write result as parquet here instead of showing")
    ap.add_argument("--show-rows", type=int, default=20, help="query: rows to show")
    ap.add_argument("--list", action="store_true", help="query: list registered queries")
    ap.add_argument(
        "--scale-check",
        action="store_true",
        help="query: run plans.guard.assert_scale_safe on the plan before executing "
        "(fails fast on nested-loop joins)",
    )
    ap.add_argument(
        "--explain",
        action="store_true",
        help="query: print the formatted physical plan instead of executing "
        "(pair with --scale-check to also assert it)",
    )
    ap.add_argument(
        "--parquet", action="store_true", help="partitioned parquet output (scale-safe sink)"
    )
    ap.add_argument(
        "--dry-run", action="store_true", help="producer: land wire messages locally, no broker"
    )
    ap.add_argument(
        "--float32-parity",
        action="store_true",
        help="spark-jobs: reproduce the reference's pre-avg float32 downcast "
        "(spark_job1.py:20-21); default keeps double precision",
    )
    args = ap.parse_args(argv)

    if args.role == "query":
        # Registry listing / name validation need no SparkSession — keep
        # `--list` (and the bad-name error) instant and side-effect free.
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
            all_queries,
        )

        names = all_queries()
        if args.list:
            for name in sorted(names):
                print(name)
            return
        if not args.name or args.name not in names:
            known = ", ".join(sorted(names)[:8])
            raise SystemExit(
                f"--name must be one of the {len(names)} registered queries "
                f"(e.g. {known}, ...); use --list to see all"
            )

    config = cfg.from_yaml(args.config) if args.config else cfg.DEFAULT_CONFIG
    os.makedirs(config.paths.output_dir, exist_ok=True)
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = session.get_spark(app_name=f"rtsm-{args.role}")

    if args.role == "producer":
        run_producer(spark, config, args.dry_run)
    elif args.role.startswith("consumer"):
        run_consumer(spark, config, args.role, args.parquet)
    elif args.role.startswith("spark-job"):
        run_spark_job(spark, config, args.role, args.parquet, args.float32_parity)
    elif args.role.startswith("stream-job"):
        run_stream_job(spark, config, args.role)
    elif args.role == "query":
        run_query(spark, args)
    elif args.role == "sql":
        run_sql(spark, args)
    elif args.role == "layout":
        if not args.path:
            raise SystemExit("layout: provide the store directory via --path")
        run_layout(spark, args)
    if owns_session:  # don't stop a session we borrowed (tests, notebooks)
        spark.stop()


if __name__ == "__main__":
    main()
