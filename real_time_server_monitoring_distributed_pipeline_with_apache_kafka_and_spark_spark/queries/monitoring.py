"""Monitoring-pipeline queries: the reference's analytics leg on testdata.

The ``events`` table is the metric analog (TESTDATA.md): ``user_id`` plays
``server_id``, ``value`` plays the metric. The producer's wide->narrow split
(``producer.py:68-71``) is modeled by deriving narrow metric streams from
events, which the jobs then re-join on the composite key - the same 1:1
re-assembly join shape as the reference (``spark_job1.py:18``).

Oracle sliding-window pattern: FIXTURES.md SSC (slide-offset cross join,
epoch-floor window arithmetic, verified exact vs Spark 4.1.2).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import AlertThresholds, PipelineConfig
from ..functions import display_round
from ..operators import monitoring as ops
from ..sources import load_table

# Thresholds for the events-analog jobs (events.value quantiles at sf0.01:
# p90 of windowed avg ~ 113) - chosen so every CASE branch fires.
ANALOG_CONFIG = PipelineConfig(
    thresholds=AlertThresholds(cpu_pct=113.0, mem_pct=85.0, net_in=220.0, disk_io=110.0)
)

# Shared SQL fragment: epoch-aligned sliding windows (30s / 10s => 3 offsets).
_SLIDING_CTE = """
offsets(k) AS (VALUES (0),(1),(2)),
win AS (
  SELECT e.*,
         make_timestamp((CAST(floor(epoch(e.ts)/10) AS BIGINT)*10 - k*10) * 1000000) AS window_start,
         make_timestamp((CAST(floor(epoch(e.ts)/10) AS BIGINT)*10 - k*10 + 30) * 1000000) AS window_end
  FROM {src} e CROSS JOIN offsets
)
"""


def _narrow_cpu(ev: DataFrame) -> DataFrame:
    return ev.select("ts", "user_id", F.col("value").alias("cpu_pct"))


def _narrow_mem(ev: DataFrame) -> DataFrame:
    # props.k (uniform 0-99) is independent of value, so every CASE branch of
    # the alert classifier can fire; also exercises JSON extraction (F4).
    # from_json with a single-field schema instead of get_json_object:
    # schema-based parse prunes to the one field and measured 2x faster per
    # scan — the right JSON path at scale (get_json_object re-parses the
    # whole document per call).
    return ev.select(
        "ts",
        "user_id",
        F.from_json("props", "k double").getField("k").alias("mem_pct"),
    )


def _narrow_net(ev: DataFrame) -> DataFrame:
    return ev.select("ts", "user_id", (F.col("value") * 2.0).alias("net_in"))


def _narrow_disk(ev: DataFrame) -> DataFrame:
    return ev.select("ts", "user_id", (F.col("value") + 5.0).alias("disk_io"))


def monitor_cpu_mem_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference spark_job1 end-to-end (J1+A1+P7+P1/F1/F2)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.cpu_mem_job(
        _narrow_cpu(ev), _narrow_mem(ev), config=ANALOG_CONFIG, entity_col="user_id",
        round_fn=display_round,
    )


def monitor_cpu_mem_alerts_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scale variant: spark_job1 over a PREPARED bucketed landing.

    The plain flagship shuffles BOTH metric sides per query (reference
    anti-pattern, SURVEY SS4.3; ``spark_job1.py:18``). Here the narrow
    cpu/mem streams are landed once as parquet tables bucketed by the
    entity key — the one-time ingest cost — and the query reads the
    bucketed tables. hash(user_id) partitioning satisfies BOTH the join's
    (ts, user_id) clustering AND the window agg's (user_id, window)
    clustering, so the entire query side — join -> sliding-window avg ->
    CASE -> projection — plans with ZERO exchanges (pinned by
    tests/test_plans.py::test_bucketed_flagship_job_no_exchange; only
    cheap in-partition sorts remain). At 100 TB that converts the two
    biggest per-query shuffles into a landing cost amortized over every
    query on the table. Results are identical to monitor_cpu_mem_alerts
    and checked against the same oracle.
    """
    landed = _bucketed_landing(
        spark, sf_dir, {"cpu": _narrow_cpu, "mem": _narrow_mem}
    )
    return ops.cpu_mem_job(
        landed["cpu"], landed["mem"], config=ANALOG_CONFIG, entity_col="user_id",
        round_fn=display_round,
        # Exploded formulation: F.window's ExpandExec would discard the
        # bucketed partitioning right before the final aggregate.
        sliding_agg_fn=ops.sliding_window_agg_exploded,
    )


@functools.cache
def _landing_root() -> str:
    """This process's directory for bucketed landings, removed at exit."""
    root = tempfile.mkdtemp(prefix=f"rtsm_bucketed_{os.getpid()}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _bucketed_landing(spark, sf_dir: str, narrows: dict) -> dict[str, DataFrame]:
    """Land narrow metric streams as entity-bucketed tables (the one-time
    ingest cost of the zero-exchange layout) and return readers on them.

    ``narrows`` maps a short name to a ``events-DataFrame -> narrow frame``
    function. Landing is AMORTIZED: a table already in the session catalog
    is reused as-is, so only the first invocation per (process, sf, name)
    pays the bucketed write — every later query on the layout is read-only
    (the "landing cost amortized over every query" contract, pinned by
    tests/test_plans.py::test_bucketed_landing_amortized). Existence
    implies a matching bucket spec: the pid-suffixed table name is written
    only by this helper, with this fixed spec.

    Table names and paths carry an sf tag (different scale factors never
    collide in one catalog) AND the process id — two concurrent drivers
    (e.g. a bench run and a correctness run) land to disjoint paths
    instead of racing overwrites on a shared one. The tables live under
    one temporary directory per process (:func:`_landing_root`), removed
    when the process exits, as the session catalog that names them goes
    with it; a production deployment would land into a governed warehouse
    path instead.
    """
    import hashlib as _hashlib
    import re as _re

    from ..sources.readers import write_bucketed_table

    # Tag = readable basename + a hash of the FULL absolute path: two
    # different directories that share a basename (e.g. runA/sf0.1 and
    # runB/sf0.1) must land as distinct tables, not silently reuse each
    # other's data. (Re-generating the files IN PLACE mid-session still
    # reuses the landing — inherent to amortization, as with any
    # materialized view over mutated source files.)
    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    tag = (
        _re.sub(r"[^0-9A-Za-z]+", "_", os.path.basename(abs_dir))
        + "_"
        + _hashlib.md5(abs_dir.encode()).hexdigest()[:8]
    )
    pid = os.getpid()
    n_buckets = 32
    landed = {}
    ev = None
    for name, narrow_fn in narrows.items():
        tbl = f"rtsm_{name}_bucketed_{tag}_{pid}"
        if not spark.catalog.tableExists(tbl):
            if ev is None:
                ev = load_table(spark, sf_dir, "events")
            # Repartition to one write task per bucket => one file per
            # bucket, so bucket layout stays tidy (and in-bucket sortBy
            # order is trusted on read when a later query's sort order
            # matches it).
            write_bucketed_table(
                narrow_fn(ev).repartition(n_buckets, "user_id"),
                tbl,
                ["user_id"],
                n_buckets=n_buckets,
                sort_cols=["user_id", "ts"],
                path=f"{_landing_root()}/{tag}/{name}",
            )
        landed[name] = spark.table(tbl)
    return landed


def monitor_net_disk_alerts_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark_job2's zero-exchange scale variant — same prepared-layout
    mechanism as :func:`monitor_cpu_mem_alerts_bucketed` (entity-bucketed
    landing + explode-based sliding window), applied to the net/disk
    metric pair. Same results/oracle as monitor_net_disk_alerts."""
    landed = _bucketed_landing(
        spark, sf_dir, {"net": _narrow_net, "disk": _narrow_disk}
    )
    return ops.net_disk_job(
        landed["net"], landed["disk"], config=ANALOG_CONFIG, entity_col="user_id",
        round_fn=display_round,
        sliding_agg_fn=ops.sliding_window_agg_exploded,
    )


def monitor_net_disk_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference spark_job2 end-to-end (J2+A2+P7+P1/F1/F2)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.net_disk_job(
        _narrow_net(ev), _narrow_disk(ev), config=ANALOG_CONFIG, entity_col="user_id",
        round_fn=display_round,
    )


def monitor_window_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: A1 sliding-window avg without the join leg (build plan M0)."""
    ev = load_table(spark, sf_dir, "events")
    return ops.sliding_window_avg(ev, entity_col="user_id")


def monitor_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tumbling (non-overlapping) 1-hour windows by event_type."""
    ev = load_table(spark, sf_dir, "events")
    agged = ops.tumbling_window_agg(
        ev,
        {"n_events": F.count(F.lit(1)), "sum_value": F.sum("value")},
        entity_col="event_type",
        duration="1 hour",
    )
    return agged.select(
        "event_type",
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_events",
        "sum_value",
    )


def monitor_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 surface: gap-based session windows (5-minute inactivity gap).

    Spark merges per-user events whose gaps are < 5 min; the oracle rebuilds
    sessions with lag() + a running new-session counter.
    """
    ev = load_table(spark, sf_dir, "events")
    return ops.session_window_sum(ev, "5 minutes")


def monitor_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with per-user SESSION ORDINALS — the
    window-function formulation ``F.session_window`` can't express
    (which session number is this, how long did it run): lag() flags a
    new session when the gap since the previous event is >= 5 minutes
    (same boundary rule as F.session_window's strict merge-if-closer),
    a running sum turns flags into session ids, one hash aggregate per
    (user, session) finishes.

    Scale: the window sorts WITHIN each user's partition only (state =
    one user's events, the same bound the streaming variant gets from
    its watermark); no global sort anywhere. Duration is timestampdiff
    microseconds — exact integers, immune to the TIMESTAMP/NTZ session
    split and to float policy.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_new = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") >= F.lag("ts").over(w) + F.expr("INTERVAL 5 MINUTE")),
        1,
    ).otherwise(0)
    runs = ev.select(
        "user_id", "ts", "event_id", "value", gap_new.alias("new_sess")
    ).withColumn("session_seq", F.sum("new_sess").over(w))
    return runs.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("duration_us"),
    )


def monitor_ewma_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value``
    (alpha = 0.2, initialized at the first observation) — the smoothed
    "current level" a monitoring pipeline alerts against. EWMA is a
    RECURSIVE statistic no plain window aggregate expresses; here it is
    an ordered SEQUENTIAL FOLD over the user's event history
    (``F.aggregate`` over the time-sorted value array), which is
    engine-portable bit-for-bit: DuckDB's ``list_reduce`` folds the same
    ordered list with the same op sequence, so the floats agree exactly
    — no rounding needed.

    Scale: one hash aggregate collects each user's ordered history (state
    = that user's events, the same bound every per-entity window op here
    has); the fold itself is O(events) inside the group. For unbounded
    histories use the streaming twin, streaming.stateful.ewma_stream (one
    scalar of keyed state, the same fold op order; its last value per
    user equals this column bitwise), or
    streaming.reorder.ewma_stream_ordered on a reordering transport.
    """
    ev = load_table(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    )
    per_user = ev.groupBy("user_id").agg(
        arr.alias("h"), F.count(F.lit(1)).alias("n_events")
    )
    vals = F.expr("transform(h, x -> x.value)")
    ewma = F.aggregate(
        F.expr("slice(transform(h, x -> x.value), 2, size(h) - 1)"),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return per_user.select("user_id", "n_events", ewma.alias("ewma_value"))


def monitor_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sided CUSUM level-shift state: the classic
    change-point statistic S_hi = max(0, S_hi + (x - mu - k)) /
    S_lo = max(0, S_lo + (mu - k - x)) folded over the user's
    time-ordered history against their own baseline mean, with the
    final accumulators and a shift flag (either side above h) — what a
    monitoring pipeline consults to ask "has this series drifted from
    its level", catching slow creeps a spike detector (z-score) misses.

    Like monitor_ewma_level, CUSUM is RECURSIVE — no plain window
    aggregate expresses it — so it runs as ordered sequential folds
    (``F.aggregate`` over the time-sorted value array) that DuckDB's
    ``list_reduce`` replays with the identical op sequence: the zero
    seed is prepended to the list there (list_reduce seeds from the
    first element), making both engines fold 0.0 + x1 + x2 ... — floats
    agree exactly, no rounding needed. The baseline mean is the exact
    decimal-sum mean, so it is the same double in both engines too.

    Scale: one hash aggregate collects each user's ordered history
    (the same per-entity bound every window op here has); both folds
    are O(events) inside the group. The streaming twin is
    streaming.reorder.cusum_stream_ordered: one scalar of keyed state per
    side (s_hi, s_lo) behind the watermarked reorder buffer, folded
    against a FIXED target mu instead of the user's full-history mean.
    """
    ev = load_table(spark, sf_dir, "events")
    k, h = 25.0, 200.0
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    )
    per_user = ev.groupBy("user_id").agg(
        arr.alias("h"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    vals = F.expr("transform(h, x -> x.value)")
    s_hi = F.aggregate(
        vals,
        F.lit(0.0),
        lambda acc, x: F.greatest(
            F.lit(0.0), acc + (x - F.col("mu") - F.lit(k))
        ),
    )
    s_lo = F.aggregate(
        vals,
        F.lit(0.0),
        lambda acc, x: F.greatest(
            F.lit(0.0), acc + (F.col("mu") - F.lit(k) - x)
        ),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "mu",
        s_hi.alias("cusum_hi"),
        s_lo.alias("cusum_lo"),
        ((s_hi > F.lit(h)) | (s_lo > F.lit(h))).alias("shifted"),
    )


def monitor_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data report: which (user, day) cells of the expected
    reporting lattice have NO events — the "which servers stopped
    reporting" audit a monitoring pipeline runs before trusting its own
    aggregates. Expected lattice = every known user x every day of
    January; actual = one hash-aggregate of events; anti-semantics via
    left join + null flag, one row per missing cell plus per-user
    summary counts.
    """
    ev = load_table(spark, sf_dir, "events")
    days = F.sequence(
        F.lit("2024-01-01").cast("date"),
        F.lit("2024-01-31").cast("date"),
        F.expr("INTERVAL 1 DAY"),
    )
    lattice = ev.select("user_id").distinct().select(
        "user_id", F.explode(days).alias("day")
    )
    actual = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    cells = lattice.join(actual, ["user_id", "day"], "left")
    return cells.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days_expected"),
        F.count("n_events").alias("n_days_reporting"),
        (F.count(F.lit(1)) - F.count("n_events")).alias("n_days_missing"),
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("n_events"),
    )


def monitor_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's value scored
    against the trailing 12 events of the SAME user (frame excludes the
    current row — you detect against history, not against yourself).
    The per-entity "is this metric suddenly weird" alarm, one window pass.

    Exactness policy: frame sums run in DECIMAL (sum and sum-of-squares
    are integer-lattice exact, so Spark's incremental add/remove frame
    evaluation and any other engine's recompute agree bit-for-bit), and
    mean/variance/z derive from those sums with an op sequence the
    oracle mirrors. Frames with fewer than 2 history rows or non-positive
    variance yield NULL z (a `var > 0` CASE guard — covers n<2 NULLs,
    exact-zero spread, AND the tiny-negative var that double rounding
    produces on constant windows, where sqrt(neg)=NaN would make Spark's
    floor(NaN)=0 disagree with DuckDB's floor(NaN)=NaN).
    z is floor-rounded to 9 decimals and the anomaly flag
    compares the ROUNDED value, so flag and score are engine-identical.
    Streaming twins: streaming.stateful.rolling_zscore_stream holds the
    trailing window as keyed state and emits these rows bitwise when each
    user's events arrive in event order across micro-batches;
    streaming.reorder.rolling_zscore_stream_ordered emits them bitwise on
    a reordering transport.
    """
    from pyspark.sql import Window

    from ..functions.numeric import display_round

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-12, -1)
    )
    vdec = F.col("value").cast("decimal(12,2)")
    n = F.count(F.lit(1)).over(w)
    s = F.sum(vdec).over(w).cast("double")
    sq = F.sum(vdec * vdec).over(w).cast("double")
    mean = s / n
    var = (sq - s * s / n) / F.nullif(n - 1, F.lit(0))
    # var can land tiny-NEGATIVE on constant windows (double rounding of
    # s*s/n); sqrt would yield NaN, and Spark's floor(NaN)=0 vs DuckDB's
    # floor(NaN)=NaN would split the engines. `WHEN var > 0` treats
    # no-spread (and NULL var for n<2) as no-score on BOTH engines and in
    # the streaming twin's `not (var > 0)` guard.
    z = F.when(var > 0.0, (F.col("value") - mean) / F.sqrt(var))
    zr = display_round(z, 9)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        n.alias("n_history"),
        zr.alias("zscore"),
        (F.abs(zr) > 3.0).alias("is_anomaly"),
    )


def monitor_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to a regular grid with last-observation-
    carried-forward gap fill — the operator that turns irregular event
    streams into the fixed-step matrix every downstream model/dashboard
    wants, and which Spark has no primitive for.

    Same union+window merge as operators.joins.asof_join (its docstring
    has the cost argument): grid points (one 6-hour lattice per user,
    fixed January window) union with observations, ONE shuffle on
    user_id, per-user ordered ``last(ignorenulls)`` carry-forward, keep
    grid rows. Never the naive grid x observations range join. Grid
    points before a user's first observation stay NULL (nothing to
    carry). The carried value is copied, not computed — no float
    arithmetic, hash-safe.

    The grid literal is cast to the events ``ts`` column's own type:
    the testdata surfaces as TIMESTAMP or TIMESTAMP_NTZ depending on
    session confs, and a union must not coerce across that split.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    grid_start = F.lit("2024-01-01 00:00:00").cast(ts_type)
    grid_end = F.lit("2024-01-31 00:00:00").cast(ts_type)
    step = F.expr("INTERVAL 6 HOUR")
    users = ev.select("user_id").distinct()
    grid = users.select(
        "user_id", F.explode(F.sequence(grid_start, grid_end, step)).alias("ts")
    ).select("user_id", "ts", F.lit(None).cast("double").alias("value"), F.lit(1).alias("is_grid"))
    obs = ev.select("user_id", "ts", "value", F.lit(0).alias("is_grid"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = grid.unionByName(obs).withColumn(
        "value_locf", F.last("value", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_grid") == 1).select(
        "user_id", F.col("ts").alias("grid_ts"), "value_locf"
    )


def monitor_case_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6/P7: threshold predicates + 3-branch CASE on raw events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        ops.alert_case(
            "both high",
            ("value", 100.0, "value high"),
            ("user_id", 100, "late cohort"),
        ).alias("alert"),
    )


def monitor_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4: projection with rename, derived column, casts, struct access."""
    ev = load_table(spark, sf_dir, "events")
    named = ev.withColumn("s", F.struct(F.col("user_id").alias("uid"), F.col("value").alias("v")))
    return named.select(
        F.col("event_id").alias("id"),
        F.col("ts").cast("date").alias("event_date"),
        F.col("value").cast("int").alias("value_int"),
        F.col("value").cast("string").alias("value_str"),
        F.col("s.uid").alias("uid"),
        (F.col("s.v") * 100.0).alias("v_scaled"),
    )


def monitor_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone row filter (engine surface beyond reference, SURVEY SS2.2):
    conjunction + IN-list + BETWEEN, pushed to the parquet scan."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type").isin("error", "purchase"))
        & (F.col("value") > 50.0)
        & F.col("ts").between("2024-01-05", "2024-01-25")
    ).select("event_id", "ts", "user_id", "event_type", "value")


def monitor_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (continuous-aggregate pattern): per-minute
    partials -> per-hour final, with the hour level computed FROM the
    minute level (sums/counts carried, avg derived at the end).

    At 100 TB this is the standard timeseries economy: the minute table is
    ~1/60th of raw and each coarser grain re-aggregates the previous one,
    never the raw stream (mergeable stats only: count/sum/max). The exact
    DECIMAL sums make the cascade bit-identical to aggregating raw
    directly - which is exactly what the oracle does."""
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("minute_start")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
        F.max("value").alias("mx"),
    )
    hour = minute.groupBy(
        "user_id", F.date_trunc("hour", "minute_start").alias("hour_start")
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("double").alias("sum_value"),
        F.max("mx").alias("max_value"),
    )
    return hour.select(
        "user_id",
        "hour_start",
        "n_events",
        "sum_value",
        (F.col("sum_value") / F.col("n_events")).alias("avg_value"),
        "max_value",
    )


def monitor_alert_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 surface, batch-checkable: tumbling 30s HIGH/OK alerts per user ->
    debounced state transitions via the SAME Arrow state machine the
    streaming operator streaming.stateful.track_alert_transitions runs
    (`_advance`).

    debounce=1 is the oracle-expressible configuration (state machine
    degenerates to lag()-change detection, exactly SQL); debounce>=2 is
    pinned by tests asserting batch == streaming output on one input.
    """
    from ..streaming.stateful import track_alert_transitions_batch

    ev = load_table(spark, sf_dir, "events")
    alerts = (
        ev.groupBy("user_id", F.window("ts", "30 seconds"))
        .agg(F.avg("value").alias("avg_value"))
        .select(
            "user_id",
            F.col("window.start").alias("window_start"),
            F.when(F.col("avg_value") > 113.0, "HIGH").otherwise("OK").alias("alert"),
        )
    )
    return track_alert_transitions_batch(alerts, entity_col="user_id", debounce=1)


def monitor_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean time to recovery per user: how long HIGH-alert incidents
    last before the signal returns to OK — the SRE follow-up question to
    monitor_alert_transitions' "when did state flip". An incident is a
    maximal run of consecutive observed HIGH windows (same 30 s tumbling
    windows and 113.0 threshold as the transitions query); its duration
    is 30 s per window, and only RECOVERED incidents count — a run still
    HIGH at the user's last observed window is right-censored and must
    not drag the mean (the classic MTTR bias).

    Plan: one window agg (exchange on user+window), then lag/run-id/
    user-max all as window functions over ONE user partitioning (single
    sort reused), a per-(user, run) hash agg, and a per-user agg. All
    durations are integer window counts x30 — mttr is int/int, exact.
    """
    ev = load_table(spark, sf_dir, "events")
    alerts = (
        ev.groupBy("user_id", F.window("ts", "30 seconds"))
        .agg(F.avg("value").alias("avg_value"))
        .select(
            "user_id",
            F.col("window.start").alias("window_start"),
            F.when(F.col("avg_value") > 113.0, "HIGH").otherwise("OK").alias("alert"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("window_start")
    w_all = Window.partitionBy("user_id")
    seq = alerts.select(
        "user_id",
        "window_start",
        "alert",
        (
            (F.col("alert") == "HIGH")
            & (
                F.lag("alert").over(w).isNull()
                | (F.lag("alert").over(w) != "HIGH")
            )
        )
        .cast("int")
        .alias("_onset"),
        F.max("window_start").over(w_all).alias("_user_last"),
    ).withColumn("_run", F.sum("_onset").over(w))
    runs = (
        seq.filter(F.col("alert") == "HIGH")
        .groupBy("user_id", "_run")
        .agg(
            F.count(F.lit(1)).alias("_n_windows"),
            F.max("window_start").alias("_run_last"),
            F.first("_user_last").alias("_user_last"),
        )
        .filter(F.col("_run_last") < F.col("_user_last"))
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_incidents"),
            (F.sum("_n_windows") * 30).alias("total_high_seconds"),
        )
        .select(
            "user_id",
            "n_incidents",
            "total_high_seconds",
            (
                F.col("total_high_seconds").cast("double") / F.col("n_incidents")
            ).alias("mttr_seconds"),
        )
    )


def monitor_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel: view -> click -> purchase per user.

    Stagewise conditional min-aggregation: pass k computes stage k's
    first-qualifying timestamp (min ts with ts > previous stage) as a
    hash-agg on user_id, with the small per-user stage table joined back
    (broadcast-eligible: one row per user). N stages = N grouped passes —
    linear in stages, never the quadratic per-stage self-join of the
    naive formulation, and no window-sort over raw events. Each stage
    must convert within a 1-day deadline of the previous one (standard
    attribution-window semantics; also what would keep state bounded in
    a streaming variant).
    Output: per-stage user counts (ordered-reachability semantics).
    """
    deadline = F.expr("INTERVAL 1 DAY")
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
    )
    # click must FOLLOW the user's first view within the deadline;
    # purchase must follow that click likewise.
    stages = (
        ev.join(per_user, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + deadline),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    full = (
        ev.join(stages, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + deadline),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return full.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_view").isNotNull(), F.col("t_click"))).alias("n_click"),
        F.count(
            F.when(F.col("t_view").isNotNull() & F.col("t_click").isNotNull(), F.col("t_purchase"))
        ).alias("n_purchase"),
    )


def monitor_error_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-interval join: every (click, error) pair for the same user
    where the error lands in the hour AFTER the click — the ad-hoc
    incident-correlation query ("which user actions preceded this
    error"), and the batch twin of streaming.jobs.interval_join_stream
    (identical predicate; test_streaming pins stream==batch on this
    query's shape).

    Via operators.joins.interval_event_join: both sides shuffle on
    (user_id, hour-bucket) so a hot user's events never concentrate in
    one task beyond two windows' worth — see the operator docstring for
    the state-bound argument.
    """
    from ..operators.joins import interval_event_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    joined = interval_event_join(
        clicks, errors, ["user_id"], "click_ts", "error_ts", window_seconds=3600
    )
    return joined.select(
        "user_id",
        "click_id",
        "click_ts",
        "error_id",
        "error_ts",
        # timestampdiff, not unix_micros: type-agnostic across the
        # TIMESTAMP/TIMESTAMP_NTZ session split (see interval_event_join).
        F.expr("timestampdiff(MICROSECOND, click_ts, error_ts)").alias("delta_us"),
    )


def monitor_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day activity movers: per-user daily event counts, the
    jump between consecutive REPORTING days (gaps skip — delta is vs the
    previous day that had events), and the 100 largest jumps corpus-wide
    — the "which servers suddenly got 10x louder" triage view.

    One hash agg to daily counts, one per-user lag window (shuffles on
    user_id — the same partitioning both steps use, so AQE keeps them in
    one exchange), and a global top-100 as ordered limit
    (TakeOrderedAndProject: per-partition heaps + a 100-row driver
    merge, never a global sort — the shape that survives a billion-user
    table). All-integer output, hash-exact by construction;
    (delta, user_id, day) is unique so the limit is deterministic.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    enriched = daily.select(
        "user_id",
        "day",
        "n_events",
        F.lag("day").over(w).alias("prev_day"),
        F.lag("n_events").over(w).alias("prev_n"),
    ).filter(F.col("prev_n").isNotNull())
    return (
        enriched.withColumn("delta", F.col("n_events") - F.col("prev_n"))
        .orderBy(F.col("delta").desc(), "user_id", "day")
        .limit(100)
    )


def monitor_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly report: each second-half-of-month reading is
    scored against the SAME user's SAME-hour-of-day first-half mean — the
    baseline that catches "3am traffic at 2pm levels" which a global
    z-score normalizes away. Emits only the anomalies (ratio >= 2x or
    <= 0.5x of the seasonal baseline) with direction.

    Plan: one filtered scan aggregates the baseline period to a
    (user x 24) stats table (map-side partial collapse), a second
    filtered scan of the scoring period joins it on (user_id, hod) —
    both filters push to the parquet scan. The stats side is
    user-dimension-sized, so it is deliberately NOT broadcast-hinted
    (Heaps-the-users at 100 TB; the r07 broadcast-audit rule) — AQE
    broadcasts it at test scale on its own. Baseline = exact DECIMAL sum
    / count (one double division); ratio fixed-op-order and 9-dec
    floor-rounded BEFORE the threshold compare, so the anomaly row set
    is engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    base = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id", F.hour("ts").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n_base"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("s_base"),
        )
        .withColumn("baseline", F.col("s_base").cast("double") / F.col("n_base"))
        .filter(F.col("baseline") > 0)
        .select("user_id", "hod", "baseline")
    )
    cur = ev.filter(F.col("ts") >= cutoff).select(
        "event_id", "user_id", F.hour("ts").alias("hod"), "ts", "value"
    )
    scored = cur.join(base, ["user_id", "hod"]).withColumn(
        "ratio", display_round(F.col("value") / F.col("baseline"), 9)
    )
    return scored.filter((F.col("ratio") >= 2.0) | (F.col("ratio") <= 0.5)).select(
        "event_id",
        "user_id",
        "hod",
        "ts",
        "value",
        display_round("baseline", 9).alias("baseline"),
        "ratio",
        F.when(F.col("ratio") >= 2.0, F.lit("high")).otherwise(F.lit("low")).alias(
            "direction"
        ),
    )


def monitor_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct cardinalities: per 30s/10s window, event
    count, distinct active users, and distinct users with errors — the
    "how many users does this incident touch" pane (a COUNT of events
    overweights chatty clients; the distinct count is the blast radius).

    Two exact distinct aggregates under one grouping plan as a single
    Expand (x3 the window-exploded rows) + two-phase hash agg — no self
    joins, no second scan. Exact distinct at 100 TB shuffles (window,
    user) pairs; when the pair space outgrows that,
    rel_approx_distinct's HLL sketch is the documented degradation path
    (same plan shape, constant-size state). The conditional distinct
    (CASE inside COUNT DISTINCT) costs nothing extra — it rides the same
    Expand."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "30 seconds", "10 seconds").alias("win")
    return (
        ev.groupBy(win)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(
                F.when(F.col("event_type") == "error", F.col("user_id"))
            ).alias("n_error_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "n_users",
            "n_error_users",
        )
    )


def monitor_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-distribution drift between two halves of the month:
    Population Stability Index over a fixed 10-bucket histogram of
    ``value`` (the standard drift alarm a monitoring pipeline raises when
    a server's metric distribution shifts).

    Bucketing is integer math (floor(value/50), clamped) so assignments
    are engine-exact; the two period histograms come from ONE map-side
    partial-aggregating pass (conditional sums — no second scan, no
    join); proportions are Laplace-smoothed (+0.5 per bucket) so empty
    buckets stay finite. Only the final 10-row table crosses a single
    `OVER ()` window for totals — trivially small. At 100 TB this is a
    pure scan + one 10-row exchange. Probability/PSI doubles are
    floor-rounded to 9 decimals on both engines (JVM log vs libm
    last-ulp policy, same as text_tfidf); every PSI term is >= 0 so
    display_round's positive-value contract holds. The PSI tail is
    ``operators.monitoring.psi_table``, shared with the stream leg.
    """
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    bucket = ops.metric_bucket(F.col("value"))
    counts = (
        events.select(
            bucket.alias("bucket"),
            (F.col("ts") < cutoff).cast("int").alias("is_a"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_a").alias("n_a"),
            F.sum(1 - F.col("is_a")).alias("n_b"),
        )
    )
    return ops.psi_table(counts)


def monitor_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric rate-of-change spikes: per-server first derivative between
    consecutive readings (delta value / delta seconds) and the rows where
    the magnitude clears 0.1/s (the sf0.01 p99) — the "counter just
    jumped" triage view that complements the level-based CASE alerts.

    One per-key lag window (shuffles on user_id only), then a stateless
    filter; nothing else moves. The division is (double - double) over
    (bigint / 1e6) — two IEEE ops in fixed order, so the rate is
    bit-identical in any engine; the spike predicate compares the
    9-decimal display rounding so the boundary row set is engine-exact
    too. Zero time deltas (none in this corpus, but possible under
    at-least-once replay) yield NULL rate via NULLIF and are dropped.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_ts").isNotNull())
    delta_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    rate = (F.col("value") - F.col("prev_value")) / F.nullif(
        delta_us.cast("double") / F.lit(1e6), F.lit(0.0)
    )
    return (
        d.withColumn("delta_us", delta_us)
        .withColumn("rate_per_s", display_round(rate, 9))
        .filter(F.abs(F.col("rate_per_s")) > 0.1)
        .select(
            "user_id", "event_id", "ts", "value", "prev_value", "delta_us", "rate_per_s"
        )
    )


def monitor_sla_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate at two resolutions: per hour, the error
    fraction vs a 25% error-rate SLO (burn 1.0 = budget consumed exactly
    at the sustainable pace), plus the enclosing 6-hour window's burn —
    the standard fast-burn/slow-burn alerting pair (1h page, 6h ticket).

    One conditional hash agg to hourly counts (map-side partial: raw rows
    collapse to <=744 groups per month before the exchange); the 6h
    totals come from a window partitioned by the 6h bucket OVER THE TINY
    HOURLY TABLE — not a second aggregation branch, which Spark would
    plan as a SECOND full scan of the raw events (measured: the re-agg +
    join formulation scans events twice). One scan, one raw-data
    exchange, plan-pinned by tests/test_plans.py::test_sla_burn_one_scan.
    Burn = (int/int) double division then one divide by the SLO
    constant, fixed op order on both engines; displayed at 9 decimals,
    breach flags compare the rounded value so the boundary is
    engine-exact.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            (F.col("event_type") == "error").cast("int").alias("is_err"),
        )
        .groupBy("hour_start")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("is_err").alias("n_err"))
    )
    # Day-index*24 + hour, FLOOR-divided by 6: epoch-aligned (2024-01-01
    # is a 6h boundary) and type-agnostic across the TIMESTAMP/
    # TIMESTAMP_NTZ session split (unix_timestamp is not — see
    # operators/joins.py). floor(x/6.0), not `div`: `div` truncates
    # toward zero, so pre-2024 hours (negative day index — a replayed
    # backlog) would land in a misaligned 11-hour "bucket 0" AND diverge
    # from the oracle's floor().
    h6 = F.floor(
        F.expr(
            "(datediff(to_date(hour_start), date'2024-01-01') * 24"
            " + hour(hour_start))"
        )
        / F.lit(6.0)
    )
    w6 = Window.partitionBy("h6_bucket")
    slo = F.lit(0.25)
    burn1 = (F.col("n_err").cast("double") / F.col("n").cast("double")) / slo
    burn6 = (
        F.sum("n_err").over(w6).cast("double") / F.sum("n").over(w6).cast("double")
    ) / slo
    return (
        hourly.withColumn("h6_bucket", h6)
        .select(
            "hour_start",
            "n",
            "n_err",
            display_round(burn1, 9).alias("burn_1h"),
            display_round(burn6, 9).alias("burn_6h"),
        )
        .withColumn("page", F.col("burn_1h") > 1.0)
        .withColumn("ticket", F.col("burn_6h") > 1.0)
    )


def monitor_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 noisiest servers through the bounded-memory SpaceSaving
    path (operators.heavy_hitters) rather than an exact hash aggregate —
    the "top URLs/users at 100 TB" answer where per-executor aggregation
    state must stay O(capacity) no matter how many distinct keys exist.

    Correctness regime: with capacity (4096) >= distinct keys per
    partition the sketch performs NO evictions, so every merged estimate
    IS the exact count (err = 0, lo = est) independent of physical
    partitioning — which is what makes this driver-hash-checkable
    against the exact-count oracle at test SFs. Past that regime the
    guarantees degrade gracefully to the Metwally bounds
    (lo <= true <= hi, floor-covered detection), pinned adversarially in
    tests/test_streaming.py's store probes and
    tests/test_properties.py. The `hi` column is partitioning-dependent
    by construction (absent-partition floors) and is therefore NOT part
    of the hash surface — only (key, est, lo) are emitted.
    """
    from ..operators.heavy_hitters import merge_summaries, space_saving_partial

    ev = load_table(spark, sf_dir, "events")
    summaries = space_saving_partial(ev, "user_id", capacity=4096)
    merged = merge_summaries(summaries)
    return (
        merged.select("key", "est", "lo")
        .orderBy(F.col("est").desc(), "key")
        .limit(20)
    )


def monitor_synthetic_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source end-to-end (Spark 4 DataSource API):
    read the deterministic server-metrics generator —
    sources.pysource.ServerMetricsDataSource, the broker-less stand-in
    for the reference's Kafka producer — and roll it up per server:
    event count, exact cpu/mem sums, peak cpu, and the count of >90% cpu
    "alert" rows (the reference's CASE-classifier shape on generated
    input). ``sf_dir`` is unused: the source generates its rows, which
    is the point — the oracle replays the generator's LCG formula in SQL
    over ``range()``, proving the source's partition-parallel generation
    is exactly the declared function of the row index.

    Scale: generation splits across ``rows_per_partition`` input splits
    (parallel Python workers, no coordination); the rollup is one hash
    agg with map-side partials. The Python-worker scan is the documented
    slow path a custom Python source pays; swapping the JVM Kafka
    connector keeps everything after ``load()`` identical.
    """
    from ..sources.pysource import register_server_metrics

    register_server_metrics(spark)
    df = (
        spark.read.format("server_metrics")
        .option("n_rows", 20_000)
        .option("n_servers", 50)
        .load()
    )
    money = "decimal(12,2)"
    return df.groupBy("server_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("cpu_pct").cast(money)).cast("double").alias("sum_cpu"),
        F.sum(F.col("mem_pct").cast(money)).cast("double").alias("sum_mem"),
        F.max("cpu_pct").alias("peak_cpu"),
        F.sum((F.col("cpu_pct") > 90.0).cast("long")).alias("n_cpu_alerts"),
    )


_TRACE_HOURS = 24
_TRACE_QUERIES = 5  # servers 0..4 are the "which servers look like this one" probes
_TRACE_TOP_K = 3


def monitor_trace_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over server load profiles [the
    distributed time-series-similarity problem of Time Series Similarity
    Search for Streaming Data in Distributed Systems, EDBT 2019, on this
    engine's primitives]: summarize every server (user_id) as its 24-dim
    hourly mean-value profile, z-normalize each profile (shape match,
    scale-invariant — the standard z-normalized Euclidean measure), and
    return the top-3 most-similar servers for each probe server (ids
    0..4) — "which machines behave like this one", the capacity-planning
    and incident-blast-radius question the monitoring domain actually
    asks.

    Scale shape: one events scan -> (server, hour) lattice-mean hash agg
    (24 rows/server), profile assembly via map lookup (no sort), 1-row-
    per-server frame; the probe set broadcasts (5 rows) and similarity
    is one pass over server profiles + a rank window — O(servers) work,
    with servers a bounded entity dimension, never event-row-squared.
    Float policy: per-(server,hour) means are integer-lattice sums in
    fixed op order; profile mean/sd and the pairwise distance are pinned
    left-to-right folds; ranking keys on floor-latticed distance micros
    with a server-id tiebreak — rank-only output, hash-checked.
    """
    ev = load_table(spark, sf_dir, "events")
    lat = (
        ev.select(
            "user_id",
            F.hour("ts").alias("h"),
            F.floor(F.col("value").cast("double") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("v6"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("v6").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    prof = (
        lat.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("h"),
                        (
                            (F.col("s").cast("double") / F.col("n").cast("double"))
                            / F.lit(1e6)
                        ).alias("t"),
                    )
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.expr(
                f"transform(sequence(0, {_TRACE_HOURS - 1}),"
                " i -> coalesce(m[i], 0.0d))"
            ).alias("trace"),
        )
        .withColumn(
            "mu",
            F.expr(
                f"aggregate(trace, 0.0d, (acc, x) -> acc + x) / {_TRACE_HOURS}.0d"
            ),
        )
        .withColumn(
            "sd",
            F.expr(
                "sqrt(aggregate(trace, 0.0d, (acc, x) -> acc + (x - mu) * (x - mu))"
                f" / {_TRACE_HOURS}.0d)"
            ),
        )
        .select(
            "user_id",
            F.expr(
                "transform(trace, x -> case when sd = 0.0d then 0.0d"
                " else (x - mu) / sd end)"
            ).alias("z"),
        )
    )
    probes = prof.filter(F.col("user_id") < _TRACE_QUERIES).select(
        F.col("user_id").alias("query_id"), F.col("z").alias("zq")
    )
    corpus = prof.filter(F.col("user_id") >= _TRACE_QUERIES).select(
        F.col("user_id").alias("neighbor_id"), F.col("z").alias("zc")
    )
    d_micro = F.expr(
        "cast(floor(sqrt(aggregate(zip_with(zq, zc, (a, b) -> (a - b) * (a - b)),"
        " 0.0d, (acc, x) -> acc + x)) * 1e6 + 0.5) as bigint)"
    )
    scored = corpus.crossJoin(F.broadcast(probes)).withColumn("dm", d_micro)
    w = Window.partitionBy("query_id").orderBy("dm", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TRACE_TOP_K)
        .select("query_id", "neighbor_id", "rnk")
    )


QUERIES = {
    "monitor_trace_knn": monitor_trace_knn,
    "monitor_error_after_click": monitor_error_after_click,
    "monitor_synthetic_source": monitor_synthetic_source,
    "monitor_rate_spike": monitor_rate_spike,
    "monitor_sla_burn": monitor_sla_burn,
    "monitor_heavy_hitters": monitor_heavy_hitters,
    "monitor_sessionize": monitor_sessionize,
    "monitor_resample_locf": monitor_resample_locf,
    "monitor_anomaly_zscore": monitor_anomaly_zscore,
    "monitor_gap_report": monitor_gap_report,
    "monitor_top_movers": monitor_top_movers,
    "monitor_ewma_level": monitor_ewma_level,
    "monitor_cusum_shift": monitor_cusum_shift,
    "monitor_drift_psi": monitor_drift_psi,
    "monitor_cpu_mem_alerts": monitor_cpu_mem_alerts,
    "monitor_cpu_mem_alerts_bucketed": monitor_cpu_mem_alerts_bucketed,
    "monitor_alert_transitions": monitor_alert_transitions,
    "monitor_mttr": monitor_mttr,
    "monitor_funnel": monitor_funnel,
    "monitor_net_disk_alerts": monitor_net_disk_alerts,
    "monitor_net_disk_alerts_bucketed": monitor_net_disk_alerts_bucketed,
    "monitor_window_sliding_avg": monitor_window_sliding_avg,
    "monitor_window_tumbling": monitor_window_tumbling,
    "monitor_session_window": monitor_session_window,
    "monitor_case_classify": monitor_case_classify,
    "monitor_project_cast": monitor_project_cast,
    "monitor_filter_range": monitor_filter_range,
    "monitor_rollup_cascade": monitor_rollup_cascade,
    "monitor_seasonal_baseline": monitor_seasonal_baseline,
    "monitor_window_distinct_users": monitor_window_distinct_users,
}

ORACLES = {
    "monitor_synthetic_source": """
WITH g AS (SELECT i FROM range(0, 20000) t(i)),
m AS (
  SELECT CAST(i % 50 AS INTEGER) AS server_id,
         ((i * 1103515245 + 12345) % 2147483648) AS h
  FROM g
),
r AS (
  SELECT server_id,
         (h % 10000) / 100.0 AS cpu_pct,
         ((h // 10000) % 10000) / 100.0 AS mem_pct
  FROM m
)
SELECT server_id, count(*) AS n_events,
       CAST(sum(CAST(cpu_pct AS DECIMAL(12,2))) AS DOUBLE) AS sum_cpu,
       CAST(sum(CAST(mem_pct AS DECIMAL(12,2))) AS DOUBLE) AS sum_mem,
       max(cpu_pct) AS peak_cpu,
       CAST(sum(CASE WHEN cpu_pct > 90.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cpu_alerts
FROM r GROUP BY server_id
""",
    "monitor_seasonal_baseline": """
WITH base AS (
  SELECT user_id, EXTRACT(hour FROM ts) AS hod,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS baseline
  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
  GROUP BY user_id, EXTRACT(hour FROM ts)
),
cur AS (
  SELECT event_id, user_id, EXTRACT(hour FROM ts) AS hod, ts, value
  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
),
scored AS (
  SELECT c.event_id, c.user_id, c.hod, c.ts, c.value, b.baseline,
         floor((c.value / b.baseline) * 1e9 + 0.5) / 1e9 AS ratio
  FROM cur c JOIN base b ON c.user_id = b.user_id AND c.hod = b.hod
  WHERE b.baseline > 0
)
SELECT event_id, user_id, CAST(hod AS INTEGER) AS hod, ts, value,
       floor(baseline * 1e9 + 0.5) / 1e9 AS baseline,
       ratio,
       CASE WHEN ratio >= 2.0 THEN 'high' ELSE 'low' END AS direction
FROM scored WHERE ratio >= 2.0 OR ratio <= 0.5
""",
    "monitor_window_distinct_users": f"""
WITH {_SLIDING_CTE.format(src='events')}
SELECT window_start, window_end,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS n_error_users
FROM win GROUP BY 1, 2
""",
    "monitor_rate_spike": """
WITH d AS (
  SELECT user_id, event_id, ts, value,
         lag(value) OVER w AS prev_value,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r AS (
  SELECT user_id, event_id, ts, value, prev_value,
         CAST(datediff('microsecond', prev_ts, ts) AS BIGINT) AS delta_us,
         (value - prev_value)
           / nullif(CAST(datediff('microsecond', prev_ts, ts) AS DOUBLE) / 1e6, 0.0)
           AS rate
  FROM d WHERE prev_ts IS NOT NULL
)
SELECT user_id, event_id, ts, value, prev_value, delta_us,
       floor(rate * 1e9 + 0.5) / 1e9 AS rate_per_s
FROM r
WHERE abs(floor(rate * 1e9 + 0.5) / 1e9) > 0.1
""",
    "monitor_sla_burn": """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         count(*) AS n,
         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
h AS (
  SELECT *,
         CAST(floor((datediff('day', DATE '2024-01-01', CAST(hour_start AS DATE)) * 24
                     + hour(hour_start)) / 6) AS BIGINT) AS h6_bucket
  FROM hourly
),
six AS (
  SELECT h6_bucket, sum(n) AS n6, sum(n_err) AS n_err6
  FROM h GROUP BY 1
)
SELECT hour_start, n, n_err,
       floor((CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)) / 0.25 * 1e9 + 0.5) / 1e9 AS burn_1h,
       floor((CAST(n_err6 AS DOUBLE) / CAST(n6 AS DOUBLE)) / 0.25 * 1e9 + 0.5) / 1e9 AS burn_6h,
       floor((CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)) / 0.25 * 1e9 + 0.5) / 1e9 > 1.0 AS page,
       floor((CAST(n_err6 AS DOUBLE) / CAST(n6 AS DOUBLE)) / 0.25 * 1e9 + 0.5) / 1e9 > 1.0 AS ticket
FROM h JOIN six USING (h6_bucket)
""",
    "monitor_heavy_hitters": """
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
  FROM events GROUP BY 1
)
SELECT key, n AS est, n AS lo
FROM counts
ORDER BY est DESC, key
LIMIT 20
""",
    "monitor_cusum_shift": """
WITH h AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu,
         list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
),
c AS (
  SELECT user_id, n_events, mu,
         list_reduce(list_prepend(0.0, vals),
                     (acc, x) -> greatest(0.0, acc + (x - mu - 25.0))) AS cusum_hi,
         list_reduce(list_prepend(0.0, vals),
                     (acc, x) -> greatest(0.0, acc + (mu - 25.0 - x))) AS cusum_lo
  FROM h
)
SELECT user_id, n_events, mu, cusum_hi, cusum_lo,
       (cusum_hi > 200.0 OR cusum_lo > 200.0) AS shifted
FROM c
""",
    "monitor_ewma_level": """
WITH h AS (
  SELECT user_id, count(*) AS n_events,
         list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CASE WHEN len(vals) = 1 THEN vals[1]
            ELSE list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc)
       END AS ewma_value
FROM h
""",
    "monitor_gap_report": """
WITH lattice AS (
  SELECT u.user_id, CAST(g.d AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM events) u,
       LATERAL unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                      INTERVAL 1 DAY)) g(d)
),
actual AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
cells AS (
  SELECT l.user_id, l.day, a.n_events
  FROM lattice l LEFT JOIN actual a ON l.user_id = a.user_id AND l.day = a.day
)
SELECT user_id, count(*) AS n_days_expected,
       count(n_events) AS n_days_reporting,
       count(*) - count(n_events) AS n_days_missing,
       CAST(coalesce(sum(n_events), 0) AS BIGINT) AS n_events
FROM cells GROUP BY user_id
""",
    "monitor_top_movers": """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
d AS (
  SELECT user_id, day, n_events,
         lag(day) OVER w AS prev_day,
         lag(n_events) OVER w AS prev_n
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
)
SELECT user_id, day, n_events, prev_day, prev_n,
       n_events - prev_n AS delta
FROM d WHERE prev_n IS NOT NULL
ORDER BY delta DESC, user_id, day
LIMIT 100
""",
    "monitor_anomaly_zscore": """
WITH f AS (
  SELECT event_id, user_id, ts, value,
         count(*) OVER w AS n,
         CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sq
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_id, user_id, ts, value, n,
         CASE WHEN (sq - s * s / n) / NULLIF(n - 1, 0) > 0
              THEN (value - s / n) / sqrt((sq - s * s / n) / NULLIF(n - 1, 0))
         END AS zraw
  FROM f
)
SELECT event_id, user_id, ts, value, CAST(n AS BIGINT) AS n_history,
       floor(zraw * 1e9 + 0.5) / 1e9 AS zscore,
       abs(floor(zraw * 1e9 + 0.5) / 1e9) > 3.0 AS is_anomaly
FROM z
""",
    "monitor_resample_locf": """
WITH grid AS (
  SELECT u.user_id, g.ts, CAST(NULL AS DOUBLE) AS value, 1 AS is_grid
  FROM (SELECT DISTINCT user_id FROM events) u,
       LATERAL unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                      TIMESTAMP '2024-01-31 00:00:00',
                                      INTERVAL 6 HOUR)) g(ts)
),
obs AS (SELECT user_id, ts, value, 0 AS is_grid FROM events),
merged AS (
  SELECT user_id, ts, is_grid,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_grid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
  FROM (SELECT * FROM grid UNION ALL SELECT * FROM obs)
)
SELECT user_id, ts AS grid_ts, value_locf FROM merged WHERE is_grid = 1
""",
    "monitor_sessionize": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       datediff('microsecond', min(ts), max(ts)) AS duration_us
FROM runs GROUP BY user_id, session_seq
""",
    "monitor_error_after_click": """
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       e.event_id AS error_id, e.ts AS error_ts,
       epoch_us(e.ts) - epoch_us(c.ts) AS delta_us
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 1 HOUR
""",
    "monitor_drift_psi": """
WITH c AS (
  SELECT least(CAST(floor(value / 50) AS INTEGER), 9) AS bucket,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_a
  FROM events
),
g AS (
  SELECT bucket, CAST(sum(is_a) AS BIGINT) AS n_a, CAST(sum(1 - is_a) AS BIGINT) AS n_b
  FROM c GROUP BY bucket
),
p AS (
  SELECT bucket, n_a, n_b,
         (n_a + 0.5) / (sum(n_a) OVER () + 5.0) AS pa,
         (n_b + 0.5) / (sum(n_b) OVER () + 5.0) AS pb
  FROM g
),
x AS (
  SELECT bucket, n_a, n_b,
         floor(pa * 1e9 + 0.5) / 1e9 AS p_a,
         floor(pb * 1e9 + 0.5) / 1e9 AS p_b,
         floor((pa - pb) * ln(pa / pb) * 1e9 + 0.5) / 1e9 AS psi_contrib
  FROM p
)
SELECT bucket, n_a, n_b, p_a, p_b, psi_contrib,
       floor(sum(psi_contrib) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             * 1e9 + 0.5) / 1e9 AS psi_total
FROM x
""",
    "monitor_funnel": """
WITH v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
                   AND e.ts <= v.t_view + INTERVAL 1 DAY THEN e.ts END) AS t_click
  FROM events e JOIN v USING (user_id)
  GROUP BY e.user_id, v.t_view
),
p AS (
  SELECT e.user_id, c.t_view, c.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                   AND e.ts <= c.t_click + INTERVAL 1 DAY THEN e.ts END) AS t_purchase
  FROM events e JOIN c USING (user_id)
  GROUP BY e.user_id, c.t_view, c.t_click
)
SELECT count(*) AS n_users,
       count(t_view) AS n_view,
       count(CASE WHEN t_view IS NOT NULL THEN t_click END) AS n_click,
       count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL THEN t_purchase END) AS n_purchase
FROM p
""",
    "monitor_mttr": """
WITH agg AS (
  SELECT user_id,
         make_timestamp(CAST(floor(epoch(ts)/30) AS BIGINT)*30*1000000) AS window_start,
         avg(value) AS avg_value
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT user_id, window_start,
         CASE WHEN avg_value > 113.0 THEN 'HIGH' ELSE 'OK' END AS alert,
         max(window_start) OVER (PARTITION BY user_id) AS user_last,
         CASE WHEN avg_value > 113.0
               AND coalesce(lag(CASE WHEN avg_value > 113.0 THEN 'HIGH' ELSE 'OK' END)
                     OVER (PARTITION BY user_id ORDER BY window_start), 'OK') <> 'HIGH'
              THEN 1 ELSE 0 END AS onset
  FROM agg
),
numbered AS (
  SELECT *, sum(onset) OVER (PARTITION BY user_id ORDER BY window_start
                             ROWS UNBOUNDED PRECEDING) AS run
  FROM seq
),
runs AS (
  SELECT user_id, run, count(*) AS n_windows,
         max(window_start) AS run_last, max(user_last) AS user_last
  FROM numbered WHERE alert = 'HIGH'
  GROUP BY user_id, run
)
SELECT user_id,
       count(*) AS n_incidents,
       CAST(sum(n_windows) * 30 AS BIGINT) AS total_high_seconds,
       CAST(sum(n_windows) * 30 AS DOUBLE) / count(*) AS mttr_seconds
FROM runs WHERE run_last < user_last
GROUP BY user_id
""",
    "monitor_alert_transitions": """
WITH agg AS (
  SELECT user_id,
         make_timestamp(CAST(floor(epoch(ts)/30) AS BIGINT)*30*1000000) AS window_start,
         avg(value) AS avg_value
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT user_id, window_start,
         CASE WHEN avg_value > 113.0 THEN 'HIGH' ELSE 'OK' END AS alert,
         lag(CASE WHEN avg_value > 113.0 THEN 'HIGH' ELSE 'OK' END)
           OVER (PARTITION BY user_id ORDER BY window_start) AS prev
  FROM agg
)
SELECT user_id, window_start, prev AS from_state, alert AS to_state
FROM seq WHERE prev IS DISTINCT FROM alert
""",
    "monitor_rollup_cascade": """
SELECT user_id,
       date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value,
       max(value) AS max_value
FROM events GROUP BY 1, 2
""",
    "monitor_cpu_mem_alerts": f"""
WITH joined AS (
  SELECT c.ts, c.user_id, c.cpu_pct, m.mem_pct
  FROM (SELECT ts, user_id, value AS cpu_pct FROM events) c
  JOIN (SELECT ts, user_id, CAST(props->>'k' AS DOUBLE) AS mem_pct FROM events) m
    ON c.ts = m.ts AND c.user_id = m.user_id
),
{_SLIDING_CTE.format(src='joined')},
agg AS (
  SELECT user_id, window_start, window_end,
         avg(cpu_pct) AS avg_cpu, avg(mem_pct) AS avg_mem
  FROM win GROUP BY 1, 2, 3
)
SELECT user_id, window_start, window_end,
       floor(avg_cpu*100.0 + 0.5)/100.0 AS avg_cpu, floor(avg_mem*100.0 + 0.5)/100.0 AS avg_mem,
       CASE WHEN avg_cpu > 113.0 AND avg_mem > 85.0 THEN 'High CPU + Memory stress'
            WHEN avg_cpu > 113.0 THEN 'CPU spike suspected'
            WHEN avg_mem > 85.0 THEN 'Memory saturation suspected'
            ELSE 'OK' END AS alert
FROM agg
""",
    "monitor_net_disk_alerts": f"""
WITH joined AS (
  SELECT n.ts, n.user_id, n.net_in, d.disk_io
  FROM (SELECT ts, user_id, value*2.0 AS net_in FROM events) n
  JOIN (SELECT ts, user_id, value + 5.0 AS disk_io FROM events) d
    ON n.ts = d.ts AND n.user_id = d.user_id
),
{_SLIDING_CTE.format(src='joined')},
agg AS (
  SELECT user_id, window_start, window_end,
         max(net_in) AS max_net_in, max(disk_io) AS max_disk_io
  FROM win GROUP BY 1, 2, 3
)
SELECT user_id, window_start, window_end,
       floor(max_net_in*100.0 + 0.5)/100.0 AS max_net_in, floor(max_disk_io*100.0 + 0.5)/100.0 AS max_disk_io,
       CASE WHEN max_net_in > 220.0 AND max_disk_io > 110.0 THEN 'Network flood + Disk thrash suspected'
            WHEN max_net_in > 220.0 THEN 'Possible DDoS'
            WHEN max_disk_io > 110.0 THEN 'Disk thrash suspected'
            ELSE 'OK' END AS alert
FROM agg
""",
    "monitor_window_sliding_avg": f"""
WITH {_SLIDING_CTE.format(src='events')}
SELECT user_id, window_start, window_end,
       avg(value) AS avg_value, count(*) AS n_events
FROM win GROUP BY 1, 2, 3
""",
    "monitor_window_tumbling": """
SELECT event_type,
       make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600*1000000) AS window_start,
       make_timestamp((CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 + 3600)*1000000) AS window_end,
       count(*) AS n_events, sum(value) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
    "monitor_session_window": """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 300
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end,
       count(*) AS n_events, sum(value) AS sum_value
FROM sessions GROUP BY user_id, session_id
""",
    "monitor_case_classify": """
SELECT event_id, user_id, value,
       CASE WHEN value > 100.0 AND user_id > 100 THEN 'both high'
            WHEN value > 100.0 THEN 'value high'
            WHEN user_id > 100 THEN 'late cohort'
            ELSE 'OK' END AS alert
FROM events
""",
    "monitor_project_cast": """
SELECT event_id AS id,
       CAST(ts AS DATE) AS event_date,
       CAST(trunc(value) AS INTEGER) AS value_int,
       CAST(value AS VARCHAR) AS value_str,
       user_id AS uid,
       value * 100.0 AS v_scaled
FROM events
""",
    "monitor_filter_range": """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_type IN ('error', 'purchase') AND value > 50.0
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00'
""",
}

# The bucketed flagships compute identical results through a different
# physical layout — same oracles by construction.
ORACLES["monitor_cpu_mem_alerts_bucketed"] = ORACLES["monitor_cpu_mem_alerts"]
ORACLES["monitor_net_disk_alerts_bucketed"] = ORACLES["monitor_net_disk_alerts"]

# Trace-similarity oracle: DuckDB assembles the 24-slot profile via a
# dense (server x hour) grid LEFT JOIN (its map type extracts awkwardly)
# — construction differs from Spark's map lookup, the VALUES are the
# identical lattice-mean / coalesce-0 / pinned-fold arithmetic.
ORACLES["monitor_trace_knn"] = f"""
WITH lat AS (
  SELECT user_id, CAST(extract(hour FROM ts) AS INTEGER) AS h,
         CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, CAST(gh.h AS INTEGER) AS h
  FROM (SELECT DISTINCT user_id FROM events) u,
       (SELECT unnest(range(0, {_TRACE_HOURS})) AS h) gh
),
tr AS (
  SELECT g.user_id,
         list(coalesce((CAST(l.s AS DOUBLE) / CAST(l.n AS DOUBLE)) / 1e6, 0.0)
              ORDER BY g.h) AS trace
  FROM grid g LEFT JOIN lat l ON l.user_id = g.user_id AND l.h = g.h
  GROUP BY g.user_id
),
zs AS (
  SELECT user_id, trace,
         list_reduce(trace, (a, b) -> a + b) / {_TRACE_HOURS}.0 AS mu
  FROM tr
),
zn AS (
  SELECT user_id,
         CASE WHEN sqrt(list_reduce(list_transform(trace, x -> (x - mu) * (x - mu)),
                                    (a, b) -> a + b) / {_TRACE_HOURS}.0) = 0.0
              THEN list_transform(trace, x -> 0.0)
              ELSE list_transform(trace, x ->
                (x - mu) / sqrt(list_reduce(list_transform(trace, y -> (y - mu) * (y - mu)),
                                            (a, b) -> a + b) / {_TRACE_HOURS}.0))
         END AS z
  FROM zs
),
scored AS (
  SELECT q.user_id AS query_id, c.user_id AS neighbor_id,
         CAST(floor(sqrt(list_reduce(
                 list_transform(range(1, {_TRACE_HOURS} + 1),
                                i -> (q.z[i] - c.z[i]) * (q.z[i] - c.z[i])),
                 (a, b) -> a + b)) * 1e6 + 0.5) AS BIGINT) AS dm
  FROM zn q JOIN zn c
    ON q.user_id < {_TRACE_QUERIES} AND c.user_id >= {_TRACE_QUERIES}
)
SELECT query_id, neighbor_id, rnk FROM (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY dm, neighbor_id) AS INTEGER) AS rnk
  FROM scored
) WHERE rnk <= {_TRACE_TOP_K}
"""
