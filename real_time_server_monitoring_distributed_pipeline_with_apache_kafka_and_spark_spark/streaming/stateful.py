"""Custom stateful streaming operators (SURVEY.md SS2.7 T5 surface).

The reference has no stateful processing beyond windowed aggregation; this
adds the monitoring primitive its alert stream actually needs downstream:
**alert transition tracking with flap debouncing** — emit one event when an
entity's alert state *changes* and has stayed changed for ``debounce``
consecutive windows, instead of re-emitting "CPU spike suspected" for every
10-second window of a 2-hour incident.

Implemented with ``applyInPandasWithState`` (Arrow-batched, partitioned by
entity — state lives with the shuffle partition, scales horizontally with
executors; the per-group state is three scalars, so state size is
O(entities), not O(windows)).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_STATE_SCHEMA = StructType(
    [
        StructField("current", StringType()),
        StructField("pending", StringType()),
        StructField("pending_count", IntegerType()),
    ]
)


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


def _transition_fn(debounce: int, names: list[str]):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = state.get if state.exists else (None, None, 0)
        out_rows = []
        for pdf in pdfs:
            # micro-batch rows arrive unordered; process in window order
            rows, st = _advance(pdf.sort_values("window_start"), st, debounce, key[0])
            out_rows.extend(rows)
        state.update(st)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=names)

    return fn


def track_alert_transitions(
    alerts: DataFrame, entity_col: str = "server_id", debounce: int = 2
) -> DataFrame:
    """Debounced alert state transitions per entity.

    ``alerts`` is a *streaming* DataFrame with (entity, window_start,
    alert) — e.g. the output of the windowed alert jobs. A transition is
    emitted once the new alert value has held for ``debounce`` consecutive
    observed windows; flaps shorter than that are suppressed. ``from_state``
    is NULL for an entity's first established state.
    """
    schema = _transition_schema(alerts, entity_col)
    return alerts.groupBy(entity_col).applyInPandasWithState(
        _transition_fn(debounce, schema.fieldNames()),
        outputStructType=schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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


def _zscore_schemas(window: int):
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
    )

    out = StructType(
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
    st = StructType([StructField("window", ArrayType(DoubleType()))])
    return out, st


def _zscore_row(value: float, hist: list[float]) -> tuple[int, float | None]:
    """One z-score against the trailing history, replaying the batch
    query's EXACT op sequence (queries.monitoring.monitor_anomaly_zscore):
    cent-lattice sums (the decimal(12,2) cast), s*s/n before the
    subtraction, one division per step, floor-round to 1e-9. Bitwise
    identical to the window-aggregate formulation on the same rows."""
    import math

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


def _zscore_fn(window: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hist: list[float] = list(state.get[0]) if state.exists else []
        out = {k: [] for k in (
            "event_id", "user_id", "ts", "value", "n_history", "zscore", "is_anomaly"
        )}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples():
                n, z = _zscore_row(float(r.value), hist)
                out["event_id"].append(r.event_id)
                out["user_id"].append(r.user_id)
                out["ts"].append(r.ts)
                out["value"].append(r.value)
                out["n_history"].append(n)
                out["zscore"].append(z)
                out["is_anomaly"].append(None if z is None else abs(z) > 3.0)
                hist.append(float(r.value))
                if len(hist) > window:
                    del hist[: len(hist) - window]
        state.update((hist,))
        if out["event_id"]:
            yield pd.DataFrame(out)

    return fn


def rolling_zscore_stream(
    events: DataFrame, window: int = 12
) -> DataFrame:
    """Streaming leg of queries.monitoring.monitor_anomaly_zscore: the
    per-user trailing-``window`` z-score as CONTINUOUS keyed state
    (``applyInPandasWithState``; state = at most ``window`` doubles per
    user, O(users) total — no watermark needed because the state is
    size-bounded by construction, not time-bounded).

    Replays the batch query's exact arithmetic (shared
    :func:`_zscore_row`), so on an event-time-ordered stream the emitted
    rows are bitwise identical to the batch window aggregate over the
    union input (pinned by tests/test_streaming.py::
    test_rolling_zscore_stream_matches_batch). Order caveat: like any
    sequence-stateful operator, per-user arrival order must match event
    order across micro-batches (within a batch rows are sorted); on a
    reordering transport (the reference's producer runs 5 async sends in
    flight) use :func:`..streaming.reorder.rolling_zscore_stream_ordered`,
    which fuses a watermarked reorder buffer into the same fold.
    """
    out_schema, state_schema = _zscore_schemas(window)
    return events.groupBy("user_id").applyInPandasWithState(
        _zscore_fn(window),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _ewma_schemas():
    from pyspark.sql.types import BooleanType, DoubleType, LongType

    out = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("ewma_value", DoubleType()),
        ]
    )
    st = StructType(
        [StructField("started", BooleanType()), StructField("ewma", DoubleType())]
    )
    return out, st


def _ewma_fn(alpha: float):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        started, ewma = state.get if state.exists else (False, 0.0)
        out = {k: [] for k in ("event_id", "user_id", "ts", "value", "ewma_value")}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples():
                v = float(r.value)
                # Same op order as the batch fold (alpha*x + (1-alpha)*acc)
                # so stream and batch floats agree bitwise.
                ewma = (alpha * v + (1.0 - alpha) * ewma) if started else v
                started = True
                out["event_id"].append(r.event_id)
                out["user_id"].append(r.user_id)
                out["ts"].append(r.ts)
                out["value"].append(r.value)
                out["ewma_value"].append(ewma)
        state.update((started, ewma))
        if out["event_id"]:
            yield pd.DataFrame(out)

    return fn


def ewma_stream(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming leg of queries.monitoring.monitor_ewma_level: the
    recursive EWMA as ONE SCALAR of keyed state per user — the minimal
    stateful operator (contrast rolling_zscore_stream's trailing-window
    state). Emits the running smoothed level at every event; the final
    emitted value per user is bitwise identical to the batch ordered
    fold over the union input (same init-at-first-observation, same
    ``alpha*x + (1-alpha)*acc`` op order; pinned by
    tests/test_streaming.py::test_ewma_stream_matches_batch). Same
    ordering caveat as every sequence-stateful operator — the
    out-of-order-safe twin is
    :func:`..streaming.reorder.ewma_stream_ordered`.
    """
    out_schema, state_schema = _ewma_schemas()
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_fn(alpha),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def track_alert_transitions_v2(
    alerts: DataFrame, entity_col: str = "server_id", debounce: int = 2
) -> DataFrame:
    """:func:`track_alert_transitions` on Spark 4's arbitrary-state API
    v2 (``transformWithStateInPandas`` + ``StatefulProcessor``) — the
    SAME ``_advance`` debounce core, so all three implementations (batch,
    v1 stream, v2 stream) share one state machine and one semantics.

    Why carry both stream APIs: v2 is where stateful streaming is
    heading — named state variables (value/list/map) instead of one
    state struct, TTL per variable, timers decoupled from output, and
    initial-state bootstrap — and it REQUIRES the RocksDB state-store
    provider, the configuration a 100 TB deployment runs anyway (state
    on local disk + changelog checkpointing, not executor heap). The
    per-key state here is the same three scalars as v1; parity across
    v1/v2/batch is pinned in tests/test_streaming.py.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = _transition_schema(alerts, entity_col)
    names = [f.name for f in out_schema]

    class _TransitionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("debounce_state", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            st = (
                tuple(self._state.get())
                if self._state.exists()
                else (None, None, 0)
            )
            out: list = []
            for pdf in rows:
                emitted, st = _advance(
                    pdf.sort_values("window_start"), st, debounce, key[0]
                )
                out.extend(emitted)
            self._state.update(st)
            if out:
                yield pd.DataFrame(out, columns=names)

        def close(self) -> None:
            pass

    return alerts.groupBy(entity_col).transformWithStateInPandas(
        statefulProcessor=_TransitionProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )
