"""PySpark-native analytics engine with the query surface of the reference
``Real-time Server-Monitoring-Distributed-Pipeline-with-Apache-Kafka-and-Spark``
(surveyed in SURVEY.md), rebuilt Spark-first.

Layout
------
- ``session``    : SparkSession construction / runtime configuration
- ``config``     : pipeline configuration (window, slide, alert thresholds)
- ``sources``    : batch + streaming sources and sinks (parquet, CSV, Kafka)
- ``operators``  : DataFrame -> DataFrame operator library
  (monitoring joins/windows/alerts, relational ops, dedup, similarity,
  text analysis, multimodal plumbing)
- ``functions``  : reusable Column-level helpers (vector math, text)
- ``streaming``  : Structured Streaming legs (Kafka-shaped parse, demux,
  the alert jobs as one windowed agg per pair, interval stream-stream
  joins, watermarks)
- ``plans``      : plan inspection helpers (explain/pushdown assertions)

Everything is stock DataFrame/SQL compiled by Catalyst: no custom parser,
optimizer, or executor (SURVEY.md SS4.2 - zero custom rules needed).
"""

__version__ = "0.1.0"
