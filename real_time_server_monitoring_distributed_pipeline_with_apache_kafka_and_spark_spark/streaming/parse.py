"""Kafka-message parsing + topic demux (reference S5/S6, SURVEY.md SS2.1).

The reference's producer emits comma-joined CSV strings per metric topic
(``producer.py:68-71``); consumers demux on ``message.topic`` and append
verbatim (``consumer1.py:40-49``). Here both collapse into expressions over
the Kafka record schema (topic, value): ``from_csv`` parse + ``filter``
demux. The same expressions work on a batch DataFrame (tests, replay) and a
``readStream`` source - one parser for both legs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas


def wire_schema_ddl(metric: str) -> str:
    """DDL string for a topic's CSV value layout (from_csv needs DDL): the
    landed schema, ts,server_id then metric cols (producer.py:68-71)."""
    return schemas.TOPIC_SCHEMAS[metric].simpleString().removeprefix("struct<").removesuffix(">").replace(
        ":", " "
    ).replace(",", ", ")


def parse_metric_value(value: Column, metric: str) -> Column:
    """S6: decode a UTF-8 CSV message into a typed struct.

    Malformed messages (the reference appends them verbatim,
    ``consumer1.py:43``) come out as a struct of NULLs - filterable,
    never job-fatal (PERMISSIVE mode).
    """
    return F.from_csv(value.cast("string"), F.lit(wire_schema_ddl(metric)))


def demux_topic(records: DataFrame, topic: str, metric: str) -> DataFrame:
    """S5: select one topic's records and parse them to typed columns.

    ``records`` has the Kafka source shape (at least ``topic`` and binary
    or string ``value``). The filter prunes at the source when the Kafka
    reader subscribes to multiple topics.
    """
    parsed = parse_metric_value(F.col("value"), metric)
    return (
        records.filter(F.col("topic") == topic)
        .select(parsed.alias("m"))
        .select("m.*")
    )


def to_wire(df: DataFrame, metric: str, topic: str) -> DataFrame:
    """S4 inverse of the parser: typed rows -> (topic, value) CSV messages.

    Mirrors the producer's f-string formatting (``producer.py:68-71``) with
    ``to_csv``; feeds a Kafka sink's (topic, value) contract.
    """
    cols = schemas.TOPIC_SCHEMAS[metric].fieldNames()
    return df.select(
        F.lit(topic).alias("topic"),
        F.to_csv(F.struct(*[F.col(c) for c in cols])).alias("value"),
    )
