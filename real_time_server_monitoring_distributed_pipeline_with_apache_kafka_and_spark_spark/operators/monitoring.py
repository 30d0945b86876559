"""Server-monitoring operator library: the reference's analytics leg.

Reference parity (SURVEY.md SS2):
- J1/J2  composite-key inner join        (spark_job1.py:18, spark_job2.py:18)
- A1/A2  grouped sliding-window avg/max  (spark_job1.py:27-33, spark_job2.py:27-33)
- P7     3-branch CASE alert classifier  (spark_job1.py:39-44, spark_job2.py:39-44)
- P1/F1/F2 final projection w/ date_format + round (spark_job1.py:47-54)

Every function is ``DataFrame -> DataFrame`` and works identically on batch
and streaming inputs (Structured Streaming compiles the same logical plan).

The reference's two jobs are one pair table and one builder: an
:class:`AlertPair` (``CPU_MEM``, ``NET_DISK`` in ``ALERT_PAIRS``) names the
metrics, the window aggregate, the input/output columns and the three alert
labels, and :func:`alert_job` composes J, A, P7 and P1 for any pair.
``cpu_mem_job``/``net_disk_job`` are the builder bound to each pair, and
main.py's *1/*2 roles derive topics, files and outputs from the pair's
metric names. The stream jobs (streaming/jobs.py) use
:func:`fused_alert_job` instead: the same pairs and windows from one
windowed aggregation, with no join, so a streaming query keeps one stateful
operator. Both builders end in the same CASE and projection. The
single-metric window (:func:`sliding_window_avg`), the session windows
(:func:`session_window_sum`) and the drift index (:func:`psi_table`) are
likewise defined once here, for the batch queries (queries/monitoring.py)
and their stream legs (streaming/jobs.py) alike.

Scale notes (100 TB posture):
- The join shuffles both sides on (ts, entity) - at scale, pre-bucketing the
  landed tables on the entity key or ingesting via one wide Kafka topic
  removes this shuffle entirely. AQE handles skewed hot entities.
- The windowed agg is a hash aggregate with map-side partial aggregation;
  the sliding window multiplies rows by duration/slide (3x here) *after*
  partial aggregation, so the expansion happens on grouped keys, not events.
- Deviations from the reference, both deliberate (SURVEY.md SS1.2): metrics
  stay double (no float32 downcast before avg), and timestamps are full
  timestamps rather than date-anchored HH:mm:ss strings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, WindowConfig
from ..functions import display_round


def join_metric_streams(
    left: DataFrame,
    right: DataFrame,
    keys: tuple[str, str] = ("ts", "server_id"),
    how: str = "inner",
) -> DataFrame:
    """J1/J2: re-assemble two narrow metric streams into a wide row.

    Reference: ``cpu_df.join(mem_df, on=["ts","server_id"], how="inner")``
    (spark_job1.py:18). USING-style join so key columns are not duplicated.
    Catalyst picks sort-merge or broadcast (AQE may switch at runtime).
    """
    return left.join(right, on=list(keys), how=how)


def sliding_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    entity_col: str = "server_id",
    window: WindowConfig | None = None,
) -> DataFrame:
    """A1/A2: groupBy(entity, window(ts, duration, slide)).agg(...).

    Reference: spark_job1.py:27-33 with durations from config.yaml:18-20.
    Output keeps the ``window`` struct (start/end) like Spark's native shape.
    """
    window = window or DEFAULT_CONFIG.window
    grouped = df.groupBy(
        F.col(entity_col),
        F.window(F.col(ts_col), window.duration, window.slide),
    )
    return grouped.agg(*[col.alias(name) for name, col in aggs.items()])


_DURATION_UNITS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                   "hour": 3600, "hours": 3600}


def _duration_seconds(spec: str) -> int:
    qty, unit = spec.strip().split()
    return int(qty) * _DURATION_UNITS[unit.lower()]


def sliding_window_agg_exploded(
    df: DataFrame,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    entity_col: str = "server_id",
    window: WindowConfig | None = None,
) -> DataFrame:
    """A1/A2 sliding-window agg via explode'd slide offsets, not F.window.

    Produces the IDENTICAL epoch-aligned (entity, window) groups as
    :func:`sliding_window_agg` — start = floor(epoch/slide)*slide - k*slide
    for k in 0..duration/slide-1, the same arithmetic ``F.window``
    compiles to — but through GenerateExec (explode) instead of
    ExpandExec. The difference is purely physical: ExpandExec discards
    its child's output partitioning, forcing a shuffle before the final
    aggregate even when the input is already hash-partitioned on the
    entity (bucketed landing); GenerateExec preserves it, so over an
    entity-bucketed table the aggregation runs with zero exchanges
    (tests/test_plans.py::test_bucketed_flagship_job_no_exchange).

    Requires duration % slide == 0 (true for the reference's 30s/10s,
    config.yaml:19-20). Timestamp arithmetic routes TIMESTAMP_NTZ through
    a session-tz cast (sessions pin UTC) because NTZ has no direct
    numeric cast.
    """
    window = window or DEFAULT_CONFIG.window
    dur_s = _duration_seconds(window.duration)
    slide_s = _duration_seconds(window.slide)
    if dur_s % slide_s:
        raise ValueError(
            f"duration {window.duration!r} must be a multiple of slide "
            f"{window.slide!r} for the exploded formulation"
        )
    n = dur_s // slide_s
    ts_type = df.schema[ts_col].dataType.simpleString()
    secs = F.col(ts_col).cast("timestamp").cast("long")
    base = secs - F.pmod(secs, F.lit(slide_s))
    exploded = df.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(n)])).alias("__slide_k")
    )
    start_s = base - F.col("__slide_k") * slide_s
    win = F.struct(
        F.timestamp_seconds(start_s).cast(ts_type).alias("start"),
        F.timestamp_seconds(start_s + dur_s).cast(ts_type).alias("end"),
    )
    grouped = exploded.groupBy(F.col(entity_col), win.alias("window"))
    return grouped.agg(*[col.alias(name) for name, col in aggs.items()])


def tumbling_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    entity_col: str | None = "server_id",
    duration: str = "30 seconds",
) -> DataFrame:
    """T2 surface: tumbling window (degenerate slide == duration)."""
    keys = [F.window(F.col(ts_col), duration)]
    if entity_col:
        keys.insert(0, F.col(entity_col))
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def sliding_window_avg(
    events: DataFrame,
    value_col: str = "value",
    entity_col: str = "server_id",
    window: WindowConfig | None = None,
) -> DataFrame:
    """A1 without the join leg: one metric's average and event count per
    (entity, sliding window), as (entity, window_start, window_end,
    avg_value, n_events). ``monitor_window_sliding_avg`` runs it over the
    events table; ``streaming_window_alerts`` over a watermarked stream."""
    agged = sliding_window_agg(
        events,
        {"avg_value": F.avg(value_col), "n_events": F.count(F.lit(1))},
        entity_col=entity_col,
        window=window,
    )
    return agged.select(
        entity_col,
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "avg_value",
        "n_events",
    )


def session_window_sum(events: DataFrame, gap: str) -> DataFrame:
    """T2 session windows: per ``user_id``, ``F.session_window`` merges
    events less than ``gap`` apart into one session, reported as
    (user_id, session_start, session_end, n_events, sum_value).
    ``monitor_session_window`` runs it over the events table;
    ``session_window_stream`` over a watermarked stream in append mode."""
    agged = (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    return agged.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


def metric_bucket(
    value_col: Column, width: float = 50.0, n_buckets: int = 10
) -> Column:
    """Fixed-width histogram bucket for a metric value: integer math
    (floor + clamp), so assignments are engine-exact and identical
    between the batch drift query (queries/monitoring.py::
    monitor_drift_psi) and the streaming histogram leg
    (streaming/jobs.py::bucket_count_stream) — sharing this expression
    IS the stream==batch guarantee for drift detection."""
    return F.least(F.floor(value_col / width).cast("int"), F.lit(n_buckets - 1))


def psi_table(counts: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Population Stability Index of two histograms over the same
    ``n_buckets`` buckets, from a ``(bucket, n_a, n_b)`` table: per bucket
    the Laplace-smoothed proportions (+0.5 per bucket, so an empty bucket
    stays finite) and the PSI term, plus the total, all floor-rounded to
    9 decimals (JVM log vs libm last-ulp policy). ``monitor_drift_psi``
    runs it over two periods of the events table, ``psi_vs_reference``
    over a reference histogram and a streamed one. The table is
    bucket-sized, so its one ``OVER ()`` window is trivially small."""
    w = Window.partitionBy()
    p_a = (F.col("n_a") + 0.5) / (F.sum("n_a").over(w) + 0.5 * n_buckets)
    p_b = (F.col("n_b") + 0.5) / (F.sum("n_b").over(w) + 0.5 * n_buckets)
    contrib = (p_a - p_b) * F.log(p_a / p_b)
    enriched = counts.select(
        "bucket",
        "n_a",
        "n_b",
        display_round(p_a, 9).alias("p_a"),
        display_round(p_b, 9).alias("p_b"),
        display_round(contrib, 9).alias("psi_contrib"),
    )
    # Total = ordered sum of the ROUNDED per-bucket terms: each addend is
    # bit-exact post-rounding and the explicit ORDER BY fixes the float
    # accumulation order, so the total is engine-reproducible (an
    # unordered OVER () sum would be hostage to row order).
    w_total = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return enriched.withColumn(
        "psi_total", display_round(F.sum("psi_contrib").over(w_total), 9)
    )


def alert_case(
    combined_label: str,
    first: tuple[str, float, str],
    second: tuple[str, float, str],
    ok_label: str = "OK",
) -> Column:
    """P7: the reference's 3-branch CASE classifier; branch order is
    load-bearing (combined condition first - spark_job1.py:39-44).

    ``first``/``second`` are (column, threshold, label) triples.
    """
    c1, t1, l1 = first
    c2, t2, l2 = second
    return (
        F.when((F.col(c1) > t1) & (F.col(c2) > t2), combined_label)
        .when(F.col(c1) > t1, l1)
        .when(F.col(c2) > t2, l2)
        .otherwise(ok_label)
    )


def format_window_output(
    df: DataFrame,
    entity_col: str,
    metric_cols: list[str],
    time_format: str | None = None,
    extra_cols: list[str] = ("alert",),
    round_fn=None,
) -> DataFrame:
    """P1/P4/F1/F2: final projection - entity, window start/end, rounded
    metrics, alert (spark_job1.py:47-54).

    ``time_format=None`` keeps full timestamps (scale-safe); pass
    ``"HH:mm:ss"`` for strict reference-output parity (SURVEY.md SS1.2
    date-anchoring quirk). ``round_fn`` defaults to the reference's
    ``F.round(x, 2)`` (F2); pass ``functions.display_round`` for
    cross-engine-deterministic rounding (oracle comparison).
    """
    if round_fn is None:
        round_fn = lambda c: F.round(c, 2)  # noqa: E731
    if time_format:
        start = F.date_format(F.col("window.start"), time_format)
        end = F.date_format(F.col("window.end"), time_format)
    else:
        start, end = F.col("window.start"), F.col("window.end")
    cols = [
        F.col(entity_col),
        start.alias("window_start"),
        end.alias("window_end"),
        *[round_fn(F.col(m)).alias(m) for m in metric_cols],
        *[F.col(c) for c in extra_cols],
    ]
    return df.select(*cols)


@dataclass(frozen=True)
class AlertPair:
    """One of the reference's alert jobs, as data: everything that differs
    between spark_job1 (cpu+mem, window avg) and spark_job2 (net+disk,
    window max). Thresholds come from ``config.thresholds`` by input
    column name; topics, landed files and output names derive from
    ``metrics`` (main.py)."""

    metrics: tuple[str, str]  # topic keys: schemas.TOPIC_SCHEMAS, KafkaConfig.topic
    agg: Callable[[str], Column]  # window aggregate, F.avg or F.max
    inputs: tuple[str, str]  # metric columns joined and aggregated
    outputs: tuple[str, str]  # aggregated column names
    labels: tuple[str, str, str]  # alert labels: both, first only, second only

    @property
    def name(self) -> str:
        return "_".join(self.metrics)


CPU_MEM = AlertPair(
    ("cpu", "mem"), F.avg, ("cpu_pct", "mem_pct"), ("avg_cpu", "avg_mem"),
    ("High CPU + Memory stress", "CPU spike suspected", "Memory saturation suspected"),
)
NET_DISK = AlertPair(
    ("net", "disk"), F.max, ("net_in", "disk_io"), ("max_net_in", "max_disk_io"),
    ("Network flood + Disk thrash suspected", "Possible DDoS", "Disk thrash suspected"),
)
# The reference's job 1 and job 2, in that order (main.py's *1/*2 roles).
ALERT_PAIRS = (CPU_MEM, NET_DISK)


def alert_job(
    pair: AlertPair,
    left: DataFrame,
    right: DataFrame,
    config=DEFAULT_CONFIG,
    entity_col: str = "server_id",
    time_format: str | None = None,
    round_fn=None,
    float32_parity: bool = False,
    sliding_agg_fn=None,
) -> DataFrame:
    """A reference alert job end-to-end: join -> sliding-window agg ->
    CASE alert -> format (spark_job1.py:6-54, spark_job2.py:6-54).

    It is the batch reference answer; the stream jobs build the same
    windows with :func:`fused_alert_job`. ``float32_parity=True`` reproduces the
    reference's pre-agg float downcast of both inputs (spark_job1.py:20-21,
    spark_job2.py:20-21; net_out is never cast there and never
    aggregated): precision drops to float32 BEFORE aggregating, shifting
    avg results in the ~7th significant digit. Default keeps double
    (deliberate deviation, SURVEY.md SS1.2). ``sliding_agg_fn`` swaps the
    window-agg implementation (same signature/semantics as
    :func:`sliding_window_agg`; pass :func:`sliding_window_agg_exploded`
    for the bucketed zero-exchange layout).
    """
    joined = join_metric_streams(left, right, keys=("ts", entity_col))
    if float32_parity:
        for c in pair.inputs:
            joined = joined.withColumn(c, F.col(c).cast("float"))
    agged = (sliding_agg_fn or sliding_window_agg)(
        joined,
        {out: pair.agg(c) for out, c in zip(pair.outputs, pair.inputs)},
        entity_col=entity_col,
        window=config.window,
    )
    return _alert_tail(pair, agged, config, entity_col, time_format, round_fn)


def _alert_tail(pair, agged, config, entity_col, time_format=None, round_fn=None) -> DataFrame:
    """P7 + P1 over a pair's aggregated windows: the CASE alert on the
    pair's thresholds, then the final projection."""
    both, first, second = pair.labels
    (a, b), (out_a, out_b) = pair.inputs, pair.outputs
    alerts = agged.withColumn(
        "alert",
        alert_case(
            both,
            (out_a, getattr(config.thresholds, a), first),
            (out_b, getattr(config.thresholds, b), second),
        ),
    )
    return format_window_output(alerts, entity_col, list(pair.outputs), time_format, round_fn=round_fn)


cpu_mem_job = partial(alert_job, CPU_MEM)
net_disk_job = partial(alert_job, NET_DISK)


def _array_avg(values: Column) -> Column:
    """``F.avg`` over an array: the mean of its non-null entries, null
    when there are none."""
    present = F.filter(values, lambda v: v.isNotNull())
    n = F.size(present)
    return F.when(n > 0, F.aggregate(present, F.lit(0.0), lambda acc, v: acc + v) / n)


# A pair's window aggregate (AlertPair.agg) applied to an array of values.
_ARRAY_AGGS = {F.avg: _array_avg, F.max: F.array_max}


def fused_alert_job(pair: AlertPair, left: DataFrame, right: DataFrame, config=DEFAULT_CONFIG) -> DataFrame:
    """:func:`alert_job`'s windows from ONE windowed aggregation and no
    join: a streaming query over it keeps one stateful operator (one state
    store per partition, one exchange) where join-then-window keeps two.

    Each side is tagged (0 = left, 1 = right) and projected to
    ``(server_id, ts, side, v)``; the union is grouped by (server, sliding
    window) into a list of its entries. The final projection rebuilds the
    inner join's pairs inside each window: every left entry meets every
    right entry with an equal ``ts`` (a repeated ``(ts, server)`` gives the
    cross product, a ``ts`` on one side only gives nothing). Windows with
    no pair are dropped, and each metric is the pair's aggregate over the
    non-null values of its side of the pairs. Null ``server_id`` rows are
    dropped up front, as the join drops a null key.

    Streaming inputs carry their own watermarks (streaming/jobs.py), taken
    per side before the union, so the global watermark is the min of the
    two, as for the join. Equals :func:`alert_job` as a batch query;
    averages may differ in the last bit (another summation order).
    """
    array_agg = _ARRAY_AGGS.get(pair.agg)
    if array_agg is None:
        raise ValueError(f"{pair.name}: window aggregate {pair.agg!r} has no array form")
    entity_col = "server_id"
    tagged = [
        df.select(entity_col, "ts", F.lit(side).alias("side"), F.col(col).alias("v"))
        for side, (df, col) in enumerate(zip((left, right), pair.inputs))
    ]
    windows = sliding_window_agg(
        tagged[0].unionByName(tagged[1]).filter(F.col(entity_col).isNotNull()),
        {"entries": F.collect_list(F.struct("ts", "side", "v"))},
        entity_col=entity_col,
        window=config.window,
    )
    entries = F.col("entries")
    pairs = F.flatten(F.transform(
        F.filter(entries, lambda e: e.side == 0),
        lambda a: F.transform(
            F.filter(entries, lambda b: (b.side == 1) & (b.ts == a.ts)),
            lambda b: F.struct(a.v.alias("a"), b.v.alias("b")),
        ),
    ))
    paired = windows.select(entity_col, "window", pairs.alias("pairs")).filter(F.size("pairs") > 0)
    agged = paired.select(
        entity_col,
        "window",
        *[array_agg(F.col(f"pairs.{f}")).alias(out) for f, out in zip("ab", pair.outputs)],
    )
    return _alert_tail(pair, agged, config, entity_col)
