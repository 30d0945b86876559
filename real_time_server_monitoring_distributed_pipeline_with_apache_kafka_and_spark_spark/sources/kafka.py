"""Kafka source builder (reference S4/S5, SURVEY.md SS2.1).

The reference runs a hand-rolled kafka-python producer with async sends +
callbacks (``producer.py:35-86``) and two consumer processes that land
messages to CSV with a per-message flush (``consumer1.py:40-49``). In
Spark both legs are declarative: ``readStream.format("kafka")`` replaces
the consumers (checkpointed offsets replace auto-commit; exactly-once to
file sinks replaces at-most-once), and main.py's ``producer`` role writes
the wire messages with a batch ``write.format("kafka")`` (batching and
compression via kafka.* options).

No broker exists in this environment: the source builder is exercised up
to plan construction in tests; end-to-end coverage uses file/memory streams
through the same downstream operators (streaming/jobs.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..config import KafkaConfig

_KAFKA_DEPLOY_HINT = (
    "The Spark Kafka connector is not on the classpath. Deploy with "
    "`spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_"
    "<scala-version>:<spark-version>` (or add the jar to spark.jars). "
    "Broker-less environments can run every non-Kafka leg: "
    "`producer --dry-run`, the spark-jobs over landed files, and the "
    "file/memory-stream tests."
)


def require_kafka_connector(spark: SparkSession) -> None:
    """Fail fast with an actionable message when format('kafka') is
    unavailable (Spark's own error just points at the docs). Probes the
    DataSource registry without touching any broker."""
    jvm = spark._jvm  # noqa: SLF001 — registry probe has no public API
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "kafka", spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        )
    except Exception as ex:  # Py4J wraps ClassNotFoundException
        raise RuntimeError(_KAFKA_DEPLOY_HINT) from ex


def kafka_source(
    spark: SparkSession,
    config: KafkaConfig,
    topics: list[str] | None = None,
    max_offsets_per_trigger: int | None = None,
):
    """Streaming Kafka source over one or more topics.

    Replaces KafkaConsumer(auto_offset_reset='earliest', auto-commit)
    (``consumer1.py:5-15``); offsets live in the checkpoint, giving
    effectively-once processing instead of auto-commit's at-most-once.

    Builder only — ``.load()`` is the caller's; use
    :func:`require_kafka_connector` first for a clear error when the
    connector jar is absent.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", config.broker)
        .option("subscribe", ",".join(topics or config.all_topics))
        .option("startingOffsets", config.starting_offsets)
    )
    if max_offsets_per_trigger:
        # Backpressure bound per micro-batch (reference tunes the client
        # buffer instead, producer.py:18-21).
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader

