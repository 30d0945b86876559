"""Watermarked reorder buffer for sequence-stateful streaming operators.

The reference's own transport can reorder deliveries: its producer sends
asynchronously with up to 5 requests in flight (reference
``producer/producer.py:17``), so per-key arrival order across micro-batches
is NOT guaranteed to match event order. The arrival-order legs
(:func:`..streaming.stateful.rolling_zscore_stream`, ``ewma_stream``) fold
each micro-batch in event order but fold micro-batches in arrival order, and
would silently compute wrong values on such a transport.

Spark disallows chaining two arbitrary ``applyInPandasWithState`` stages in
one streaming query, so the buffer cannot be a separate operator. Instead
the ``*_ordered`` legs run the same per-key fold driver as the arrival-order
legs (``stateful._fold_stream``) with the buffer in front of the fold, its
fields appended to the keyed state:

- incoming rows park in a per-key pending buffer (columnar arrays in the
  state struct — O(delay x rate) rows per key, bounded by the watermark);
- each invocation folds-and-emits, in (event time, event id) order, exactly
  the pending rows at or below the current watermark
  (``GroupState.getCurrentWatermarkMs``) — by watermark contract no
  still-earlier row can arrive afterwards, so the fold order equals event
  order;
- an event-time timeout wakes keys that receive no further data once the
  watermark passes their earliest pending row, so buffered rows always
  drain without requiring fresh per-key traffic;
- under ``EventTimeTimeout`` Spark 4.1 drops input rows behind the
  previous trigger's watermark before the function sees them (counted in
  ``numRowsDroppedByWatermark``). A key's emission high-water mark (the
  last (event time, id) actually folded) is never past that watermark,
  so no row at or before it reaches the buffer there. Older Spark
  versions did not filter input for arbitrary stateful operators, so the
  buffer keeps its own guard: an arrival sorting at or before the
  high-water mark is dropped — folding it would violate event order
  (pinned by tests/test_streaming.py::
  test_reorder_release_drops_arrivals_at_or_before_hwm, which drives
  ``_release`` directly).

The fold cores are SHARED with the arrival-order legs and the batch
queries (``_zscore_fold``, ``_ewma_fold``), so an out-of-order stream emits
rows bitwise identical to the batch window aggregate over the same input
(pinned by tests/test_streaming.py::
test_*_stream_ordered_matches_batch_on_out_of_order_input).

At 100 TB scale: state per key = the fold core plus at most
``watermark delay x per-key event rate`` buffered rows, partitioned by key
across executors with the shuffle — the same state-size story as any
watermarked stream-stream join, and strictly smaller (three scalars per
pending row).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .stateful import (
    _EVENT_ORDER,
    _EWMA_CORE,
    _EWMA_SCHEMA,
    _ZSCORE_CORE,
    _ZSCORE_SCHEMA,
    _ewma_fold,
    _fold_stream,
    _Fold,
    _zscore_fold,
)

_BUF_FIELDS = [
    StructField("buf_event_id", ArrayType(LongType())),
    StructField("buf_ts", ArrayType(LongType())),  # event time, micros since epoch
    StructField("buf_value", ArrayType(DoubleType())),
    # Per-key emission high-water mark (ts_us, event_id of the LAST row
    # folded). An arrival sorting at or before it would have to be
    # folded out of order, so it is dropped. Spark 4.1 already filters
    # such rows under EventTimeTimeout (module docstring); the guard is
    # for versions that did not.
    StructField("hwm_ts", LongType()),
    StructField("hwm_eid", LongType()),
]
_NO_HWM = -(1 << 62)


def _ts_micros(ts: pd.Series) -> np.ndarray:
    s = ts
    if getattr(s.dtype, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64").to_numpy()


_UTC_NAMES = {"UTC", "Etc/UTC", "GMT", "Z", "+00:00"}


def _require_utc_session(df: DataFrame) -> None:
    """The buffer compares event-time micros (delivered to Python as
    SESSION-timezone-naive wall clock) against ``getCurrentWatermarkMs``
    (epoch UTC). Those agree iff the session time zone is UTC — the
    engine's session policy (session.py) pins it, but a caller wiring
    these operators into their own session must not silently get
    watermark logic offset by their zone: fail loudly at build time."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_NAMES:
        raise ValueError(
            "reorder-buffer streaming operators require "
            f"spark.sql.session.timeZone=UTC (got {tz!r}): event-time "
            "micros are session-zone wall clock while the watermark is "
            "epoch UTC, so any other zone mis-folds or stalls emission"
        )


def _release(
    arrivals: pd.DataFrame | None, tail: tuple, state: GroupState
) -> tuple[pd.DataFrame, tuple]:
    """One trigger of the reorder buffer: park the arrivals that sort after
    the key's high-water mark with the pending rows of ``tail`` (the
    ``_BUF_FIELDS`` values, empty for a new key) and release those at or
    below the watermark. Returns the released rows (``event_id``, ``ts``,
    ``ts_us``, ``value``) and the new ``_BUF_FIELDS`` values."""
    eids, ts_us, values, hwm_ts, hwm_eid = tail or ([], [], [], None, None)
    hwm_ts = _NO_HWM if hwm_ts is None else hwm_ts
    hwm_eid = _NO_HWM if hwm_eid is None else hwm_eid
    parked = pd.DataFrame(
        {
            "event_id": np.asarray(eids or [], dtype="int64"),
            "ts_us": np.asarray(ts_us or [], dtype="int64"),
            "value": np.asarray(values or [], dtype="float64"),
        }
    )
    if arrivals is not None:
        new = pd.DataFrame(
            {
                "event_id": arrivals["event_id"].astype("int64").to_numpy(),
                "ts_us": _ts_micros(arrivals["ts"]),
                "value": arrivals["value"].astype("float64").to_numpy(),
            }
        )
        # Too late: this key already emitted at or past (ts, id).
        late = (new["ts_us"] < hwm_ts) | (
            (new["ts_us"] == hwm_ts) & (new["event_id"] <= hwm_eid)
        )
        parked = pd.concat([parked, new[~late]], ignore_index=True)
    wm_ms = state.getCurrentWatermarkMs()
    due = parked["ts_us"] <= wm_ms * 1000
    ready, rest = parked[due], parked[~due]
    if len(ready):
        last = np.lexsort((ready["event_id"], ready["ts_us"]))[-1]
        hwm_ts, hwm_eid = (int(x) for x in ready[["ts_us", "event_id"]].iloc[last])
    if len(rest):
        # Wake this key once the watermark passes its earliest pending
        # row, even if no further data arrives for it. Must be strictly
        # beyond the current watermark or Spark rejects it.
        state.setTimeoutTimestamp(max(int(rest["ts_us"].min()) // 1000, wm_ms + 1))
    return ready.assign(ts=pd.to_datetime(ready["ts_us"], unit="us")), (
        rest["event_id"].tolist(),
        rest["ts_us"].tolist(),
        rest["value"].tolist(),
        hwm_ts,
        hwm_eid,
    )


def _ordered(
    events: DataFrame,
    delay: str,
    fold: _Fold,
    init: tuple,
    out_schema: StructType,
    core_fields: list[StructField],
) -> DataFrame:
    """An ``*_ordered`` leg: ``fold`` per user behind the reorder buffer,
    with ``withWatermark("ts", delay)`` as the reorder tolerance."""
    _require_utc_session(events)
    return _fold_stream(
        events.withWatermark("ts", delay),
        "user_id",
        fold,
        init,
        out_schema,
        [*core_fields, *_BUF_FIELDS],
        _EVENT_ORDER,
        buffer=_release,
    )


def rolling_zscore_stream_ordered(
    events: DataFrame, window: int = 12, delay: str = "2 hours"
) -> DataFrame:
    """Out-of-order-safe twin of ``stateful.rolling_zscore_stream``: the
    same trailing-window z-score fold (shared ``_zscore_row`` core,
    bitwise-identical to the batch ``monitor_anomaly_zscore``), preceded
    by the fused watermarked reorder buffer. Applies
    ``withWatermark("ts", delay)`` itself — ``delay`` is the reorder
    tolerance; arrivals the key has already emitted past are dropped (see
    the module docstring's high-water-mark contract). Emission lags
    arrival by the watermark (a row emits once no earlier row can still
    arrive), the price of correctness on a reordering transport.
    """
    return _ordered(
        events, delay, _zscore_fold(window), ([],), _ZSCORE_SCHEMA, _ZSCORE_CORE
    )


def ewma_stream_ordered(
    events: DataFrame, alpha: float = 0.2, delay: str = "2 hours"
) -> DataFrame:
    """Out-of-order-safe twin of ``stateful.ewma_stream``: the same scalar
    EWMA recursion behind the fused watermarked reorder buffer. See
    :func:`rolling_zscore_stream_ordered` for the buffer contract.
    """
    return _ordered(
        events, delay, _ewma_fold(alpha), (False, 0.0), _EWMA_SCHEMA, _EWMA_CORE
    )


_RATE_SPIKE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("prev_value", DoubleType()),
        StructField("delta_us", LongType()),
        StructField("rate_per_s", DoubleType()),
    ]
)


def _rate_spike_fold(threshold: float) -> _Fold:
    def fold(rows, core, user_id):
        prev_ts = int(core[0]) if core[0] is not None else None
        prev_v = float(core[1]) if core[1] is not None else None
        out = []
        for eid, ts, ts_us, v in zip(
            rows["event_id"], rows["ts"], rows["ts_us"].tolist(), rows["value"]
        ):
            v = float(v)
            if prev_ts is not None:
                delta_us = ts_us - prev_ts
                if delta_us != 0:
                    # Same IEEE op sequence as the batch query's
                    # (value - prev) / (delta_us / 1e6) + display_round(9),
                    # so emitted doubles agree bitwise.
                    rate = (v - prev_v) / (delta_us / 1e6)
                    r9 = math.floor(rate * 1e9 + 0.5) / 1e9
                    if abs(r9) > threshold:
                        out.append((user_id, eid, ts, v, prev_v, delta_us, r9))
            prev_ts, prev_v = ts_us, v
        return out, (prev_ts, prev_v)

    return fold


def rate_spike_stream_ordered(
    events: DataFrame, threshold: float = 0.1, delay: str = "2 hours"
) -> DataFrame:
    """Out-of-order-safe streaming twin of the batch
    ``monitor_rate_spike`` query: per-key first-derivative spike
    detection behind the fused watermarked reorder buffer. The fold
    state is just the previous (ts, value) pair — the smallest possible
    sequence-stateful core — but it is exactly as order-sensitive as the
    z-score window (a swapped arrival pair inverts the derivative's
    sign), so it gets the same buffer treatment. Emits ONLY spike rows
    (|9-dec rounded rate| > threshold), matching the batch filter; rows
    are bitwise identical to the batch lag-window query on the same
    input (pinned by tests/test_streaming.py::
    test_rate_spike_stream_ordered_matches_batch_on_out_of_order_input).
    """
    return _ordered(
        events,
        delay,
        _rate_spike_fold(threshold),
        (None, None),
        _RATE_SPIKE_SCHEMA,
        [StructField("prev_ts_us", LongType()), StructField("prev_value", DoubleType())],
    )


_CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("cusum_hi", DoubleType()),
        StructField("cusum_lo", DoubleType()),
        StructField("shifted", BooleanType()),
    ]
)


def _cusum_fold(mu: float, k: float, h: float) -> _Fold:
    def fold(rows, core, user_id):
        s_hi = float(core[0]) if core[0] is not None else 0.0
        s_lo = float(core[1]) if core[1] is not None else 0.0
        out = []
        for eid, ts, v in zip(rows["event_id"], rows["ts"], rows["value"]):
            v = float(v)
            # Same IEEE op sequence as the batch fold (greatest(0, acc +
            # drift)), so the running accumulators agree bitwise with a
            # batch replay at the same fixed target.
            s_hi = max(0.0, s_hi + (v - mu - k))
            s_lo = max(0.0, s_lo + (mu - k - v))
            out.append((user_id, eid, ts, v, s_hi, s_lo, s_hi > h or s_lo > h))
        return out, (s_hi, s_lo)

    return fold


def cusum_stream_ordered(
    events: DataFrame,
    mu: float,
    k: float = 25.0,
    h: float = 200.0,
    delay: str = "2 hours",
) -> DataFrame:
    """Out-of-order-safe streaming CUSUM: the two-sided level-shift fold
    of the batch ``monitor_cusum_shift`` query behind the fused
    watermarked reorder buffer, with TWO scalars of per-key state
    (s_hi, s_lo) — the smallest stateful core after rate-spike's.

    One deliberate difference from the batch query: the target ``mu`` is
    a FIXED parameter, not the key's own full-history mean — a streaming
    monitor cannot know the final mean in advance, and production CUSUM
    runs against a control-period target anyway (that is what makes the
    alarm meaningful). Given the same target, the emitted running
    accumulators are bitwise identical to a batch replay of the fold
    over the same events (pinned by tests/test_streaming.py::
    test_cusum_stream_ordered_matches_batch_on_out_of_order_input).
    Order-sensitivity: the running path (and therefore WHEN the alarm
    first fires) depends on event order, so out-of-order transports get
    the same buffer treatment as z-score/EWMA/rate-spike.
    """
    return _ordered(
        events,
        delay,
        _cusum_fold(mu, k, h),
        (0.0, 0.0),
        _CUSUM_SCHEMA,
        [StructField("s_hi", DoubleType()), StructField("s_lo", DoubleType())],
    )
