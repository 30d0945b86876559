"""Sequence-stateful streaming operators (SURVEY.md SS2.7 T5 surface).

The reference has no stateful processing beyond windowed aggregation; this
adds the monitoring primitives its alert stream needs downstream:
**alert transition tracking with flap debouncing** (emit one event when an
entity's alert state *changes* and has stayed changed for ``debounce``
consecutive windows, instead of re-emitting "CPU spike suspected" for every
10-second window of a 2-hour incident), and the per-user trailing z-score
and EWMA level as continuous keyed state.

Every leg is built by one driver, :func:`_fold_stream`, over
``applyInPandasWithState`` (Arrow-batched, partitioned by key: state lives
with the shuffle partition and scales with executors). For each key on each
trigger the driver reads the fold core from state, concatenates every Arrow
chunk of the micro-batch (``spark.sql.execution.arrow.maxRecordsPerBatch``
splits a key's rows into several), sorts the rows by the operator's order
columns, runs the operator's fold and stores the new core. Sorting the whole
micro-batch rather than each chunk is what keeps a catch-up after downtime,
where one key has more rows than a chunk holds, in event order.

These arrival-order legs fold each micro-batch in order, but across
micro-batches they fold in arrival order. On a reordering transport (the
reference's producer keeps 5 async sends in flight) use the ``*_ordered``
legs of :mod:`.reorder`, which put a watermarked reorder buffer in front of
the same driver and folds. The batch twins are the verification ground
truth: :func:`track_alert_transitions_batch` runs the same ``_advance``
core, and the folds replay the exact arithmetic of the batch queries in
``queries.monitoring``, so stream and batch rows agree bitwise.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# fold(rows sorted in fold order, core, key) -> (output rows, new core)
_Fold = Callable[[pd.DataFrame, tuple, Any], tuple[list, tuple]]


def _fold_stream(
    df: DataFrame,
    key_col: str,
    fold: _Fold,
    init: tuple,
    out_schema: StructType,
    state_fields: list[StructField],
    order: list[str],
    buffer=None,
) -> DataFrame:
    """The one per-key fold driver of the sequence-stateful stream legs.

    State is the fold core (``init`` for a new key), one field per ``init``
    entry, followed by whatever ``buffer`` keeps. Each trigger folds all of
    a key's rows of the micro-batch at once, sorted by ``order``. With a
    ``buffer`` (the reorder buffer of :mod:`.reorder`) it folds the rows
    the buffer releases instead: ``buffer(rows, tail, state)`` gets the
    concatenated arrivals (``None`` on a timeout) and the state fields
    after the core, and returns the due rows and the new tail; it runs
    under the event-time timeout.
    """
    names = out_schema.fieldNames()
    n_core = len(init)

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = tuple(state.get) if state.exists else tuple(init)
        chunks = list(pdfs)
        rows = pd.concat(chunks, ignore_index=True) if chunks else None
        tail = ()
        if buffer is not None:
            rows, tail = buffer(rows, st[n_core:], state)
        out, core = fold(rows.sort_values(order), st[:n_core], key[0])
        state.update((*core, *tail))
        if out:
            yield pd.DataFrame(out, columns=names)

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=StructType(state_fields),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if buffer is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


_TRANSITION_CORE = [
    StructField("current", StringType()),
    StructField("pending", StringType()),
    StructField("pending_count", IntegerType()),
]


def _transition_schema(alerts: DataFrame, entity_col: str) -> StructType:
    """Output schema with the entity/window types taken from the input."""
    return StructType(
        [
            StructField(entity_col, alerts.schema[entity_col].dataType),
            StructField("window_start", alerts.schema["window_start"].dataType),
            StructField("from_state", StringType()),
            StructField("to_state", StringType()),
        ]
    )


def _advance(pdf: pd.DataFrame, state: tuple, debounce: int, entity) -> tuple[list, tuple]:
    """The debounce state machine over window-ordered rows: one shared core
    for the streaming (applyInPandasWithState) and batch (applyInPandas)
    wrappers, so batch-mode results ARE the streaming semantics."""
    current, pending, pending_count = state
    out_rows = []
    for row in pdf.itertuples(index=False):
        alert = row.alert
        if alert == current:
            pending, pending_count = None, 0
            continue
        if alert == pending:
            pending_count += 1
        else:
            pending, pending_count = alert, 1
        if pending_count >= debounce:
            out_rows.append((entity, row.window_start, current, alert))
            current, pending, pending_count = alert, None, 0
    return out_rows, (current, pending, pending_count)


def track_alert_transitions(
    alerts: DataFrame, entity_col: str = "server_id", debounce: int = 2
) -> DataFrame:
    """Debounced alert state transitions per entity.

    ``alerts`` is a *streaming* DataFrame with (entity, window_start,
    alert) — e.g. the output of the windowed alert jobs. A transition is
    emitted once the new alert value has held for ``debounce`` consecutive
    observed windows; flaps shorter than that are suppressed. ``from_state``
    is NULL for an entity's first established state. State is three
    scalars per entity.
    """
    return _fold_stream(
        alerts,
        entity_col,
        lambda rows, core, entity: _advance(rows, core, debounce, entity),
        (None, None, 0),
        _transition_schema(alerts, entity_col),
        _TRANSITION_CORE,
        ["window_start"],
    )


def track_alert_transitions_batch(
    alerts: DataFrame, entity_col: str = "server_id", debounce: int = 2
) -> DataFrame:
    """Batch counterpart of :func:`track_alert_transitions`: the SAME
    debounce state machine (shared ``_advance`` core) run per entity over
    the full window-ordered history via Arrow-batched ``applyInPandas``.

    Batch mode is the verification ground truth for the stateful path
    (SURVEY.md SS7.1): the streaming operator over the same rows must emit
    exactly these transitions. Partitioned by entity — one shuffle, state
    is O(1) per group.
    """
    schema = _transition_schema(alerts, entity_col)
    names = [f.name for f in schema]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=names)
        pdf = pdf.sort_values("window_start")
        if debounce == 1:
            # debounce=1 degenerates to change detection — vectorized
            # (numpy shift+compare) instead of the per-row loop; measured
            # ~4x faster over 100k windows. Equivalence with _advance is
            # pinned by tests/test_streaming.py.
            import numpy as np

            vals = pdf["alert"].to_numpy(dtype=object)
            prev = np.empty_like(vals)
            prev[0] = None
            prev[1:] = vals[:-1]
            mask = prev != vals
            return pd.DataFrame(
                {
                    names[0]: pdf[entity_col].to_numpy()[mask],
                    names[1]: pdf["window_start"].to_numpy()[mask],
                    names[2]: prev[mask],
                    names[3]: vals[mask],
                }
            )
        rows, _ = _advance(pdf, (None, None, 0), debounce, pdf[entity_col].iloc[0])
        return pd.DataFrame(rows, columns=names)

    return alerts.groupBy(entity_col).applyInPandas(fn, schema=schema)


# Event-keyed legs fold each user's rows in (event time, event id) order.
_EVENT_ORDER = ["ts", "event_id"]

_ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("n_history", LongType()),
        StructField("zscore", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)
_ZSCORE_CORE = [StructField("window", ArrayType(DoubleType()))]


def _zscore_row(value: float, hist: list[float]) -> tuple[int, float | None]:
    """One z-score against the trailing history, replaying the batch
    query's EXACT op sequence (queries.monitoring.monitor_anomaly_zscore):
    cent-lattice sums (the decimal(12,2) cast), s*s/n before the
    subtraction, one division per step, floor-round to 1e-9. Bitwise
    identical to the window-aggregate formulation on the same rows."""
    n = len(hist)
    if n < 2:
        return n, None
    cents = [int(round(v * 100)) for v in hist]
    s = sum(cents) / 100.0
    sq = sum(c * c for c in cents) / 10000.0
    mean = s / n
    var = (sq - s * s / n) / (n - 1)
    # Constant windows can land at var == 0 or tiny-NEGATIVE (double
    # rounding of s*s/n); both mean "no spread, no score". `not (var > 0)`
    # also catches NaN — without it sqrt(neg)=NaN reaches floor() and
    # kills the streaming query. Mirrors the batch query's
    # `WHEN var > 0` guard exactly.
    if not (var > 0.0):
        return n, None
    z = (value - mean) / math.sqrt(var)
    return n, math.floor(z * 1e9 + 0.5) / 1e9


def _zscore_fold(window: int) -> _Fold:
    def fold(rows, core, user_id):
        hist = list(core[0]) if core[0] is not None else []
        out = []
        for eid, ts, v in zip(rows["event_id"], rows["ts"], rows["value"]):
            v = float(v)
            n, z = _zscore_row(v, hist)
            out.append((eid, user_id, ts, v, n, z, None if z is None else abs(z) > 3.0))
            hist.append(v)
            if len(hist) > window:
                del hist[: len(hist) - window]
        return out, (hist,)

    return fold


def rolling_zscore_stream(
    events: DataFrame, window: int = 12
) -> DataFrame:
    """Streaming leg of queries.monitoring.monitor_anomaly_zscore: the
    per-user trailing-``window`` z-score as CONTINUOUS keyed state
    (state = at most ``window`` doubles per user, O(users) total — no
    watermark needed because the state is size-bounded by construction,
    not time-bounded).

    Replays the batch query's exact arithmetic (shared
    :func:`_zscore_row`), so on an event-time-ordered stream the emitted
    rows are bitwise identical to the batch window aggregate over the
    union input (pinned by tests/test_streaming.py::
    test_rolling_zscore_stream_matches_batch). Order caveat: each
    micro-batch is folded in event order, but across micro-batches rows
    fold in arrival order; on a reordering transport use
    :func:`..streaming.reorder.rolling_zscore_stream_ordered`.
    """
    return _fold_stream(
        events, "user_id", _zscore_fold(window), ([],), _ZSCORE_SCHEMA,
        _ZSCORE_CORE, _EVENT_ORDER,
    )


_EWMA_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("ewma_value", DoubleType()),
    ]
)
_EWMA_CORE = [StructField("started", BooleanType()), StructField("ewma", DoubleType())]


def _ewma_fold(alpha: float) -> _Fold:
    def fold(rows, core, user_id):
        started = bool(core[0]) if core[0] is not None else False
        ewma = float(core[1]) if core[1] is not None else 0.0
        out = []
        for eid, ts, v in zip(rows["event_id"], rows["ts"], rows["value"]):
            v = float(v)
            # Same op order as the batch fold (alpha*x + (1-alpha)*acc)
            # so stream and batch floats agree bitwise.
            ewma = (alpha * v + (1.0 - alpha) * ewma) if started else v
            started = True
            out.append((eid, user_id, ts, v, ewma))
        return out, (started, ewma)

    return fold


def ewma_stream(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming leg of queries.monitoring.monitor_ewma_level: the
    recursive EWMA as ONE SCALAR of keyed state per user — the minimal
    stateful operator (contrast rolling_zscore_stream's trailing-window
    state). Emits the running smoothed level at every event; the final
    emitted value per user is bitwise identical to the batch ordered
    fold over the union input (same init-at-first-observation, same
    ``alpha*x + (1-alpha)*acc`` op order; pinned by
    tests/test_streaming.py::test_ewma_stream_matches_batch). Same
    ordering caveat as :func:`rolling_zscore_stream` — the
    out-of-order-safe twin is
    :func:`..streaming.reorder.ewma_stream_ordered`.
    """
    return _fold_stream(
        events, "user_id", _ewma_fold(alpha), (False, 0.0), _EWMA_SCHEMA,
        _EWMA_CORE, _EVENT_ORDER,
    )
