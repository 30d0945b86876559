"""Correctness gate, run outside the timed region.

Three checks, each returning ``(attempted, failed)``:

- streamed alerts equal the batch operator (``operators.monitoring``
  ``cpu_mem_job`` / ``net_disk_job``) over the same generated events, for
  every window the final watermark has closed;
- a landed store holds exactly the generated rows (count, distinct keys,
  and exact integer sums of timestamps and of every metric in cents);
- a batch query's output hash-matches its DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loadgen import BASE_TS, TOPIC_METRICS

KEYS = ["server_id", "window_start", "window_end"]
# Both sides round window averages to 2 decimals after summing in
# different orders; one cent absorbs a rounding-boundary flip.
VALUE_TOL = 0.01 + 1e-9


def events_frame(spark: SparkSession, rows: list, topic: str, schema) -> DataFrame:
    """Generated (event second, server, values, created) rows as a typed
    DataFrame with the topic's landed schema - built from the generator's
    records, not through the engine's parser."""
    cols = [c for c, _ in TOPIC_METRICS[topic]]
    base = pd.Timestamp(BASE_TS).tz_convert(None)
    pdf = pd.DataFrame({
        "ts": base + pd.to_timedelta([r[0] for r in rows], unit="s"),
        "server_id": [r[1] for r in rows],
        **{c: [r[2][i] for r in rows] for i, c in enumerate(cols)},
    })
    return spark.createDataFrame(pdf, schema=schema)


def check_alerts(expected: DataFrame, actual: DataFrame, value_cols: list[str]) -> tuple[int, int]:
    """Rows of ``expected`` missing from, or different in, ``actual``, plus
    rows ``actual`` has that ``expected`` lacks (duplicates included). A
    null where the other side has a value counts as different."""
    e = expected.select(*KEYS, *[F.col(c).alias(f"e_{c}") for c in value_cols],
                        F.col("alert").alias("e_alert"), F.lit(1).alias("e_n"))
    a = (actual.groupBy(*KEYS)
         .agg(*[F.first(c).alias(f"a_{c}") for c in value_cols],
              F.first("alert").alias("a_alert"), F.count("*").alias("a_n")))
    j = e.join(a, KEYS, "full_outer")
    bad = (F.col("e_n").isNull() | F.col("a_n").isNull() | (F.col("a_n") != 1)
           | ~F.col("e_alert").eqNullSafe(F.col("a_alert")))
    for c in value_cols:
        off = F.abs(F.col(f"e_{c}") - F.col(f"a_{c}")) > VALUE_TOL
        bad = bad | F.coalesce(off, F.lit(True))
    row = j.agg(F.sum(F.col("e_n")).alias("n"),
                F.sum(F.when(bad, 1).otherwise(0)).alias("bad")).first()
    return int(row["n"] or 0), int(row["bad"] or 0)


def closed_windows(df: DataFrame, watermark_s: float) -> DataFrame:
    """Windows an append-mode stream has emitted once the watermark is at
    ``watermark_s`` (epoch seconds): those ending at or before it."""
    return df.filter(F.unix_timestamp("window_end") <= F.lit(int(math.floor(watermark_s))))


def fingerprint_rows(rows: list, topic: str) -> tuple:
    """(rows, distinct keys, sum of epoch seconds, sum of cents per metric)."""
    base = int(BASE_TS.timestamp())
    n_metrics = len(TOPIC_METRICS[topic])
    return (
        len(rows),
        len({(r[0], r[1]) for r in rows}),
        sum(base + r[0] for r in rows),
        *[sum(round(r[2][i] * 100) for r in rows) for i in range(n_metrics)],
    )


def fingerprint_df(df: DataFrame, topic: str) -> tuple:
    cols = [c for c, _ in TOPIC_METRICS[topic]]
    row = df.agg(
        F.count("*"),
        F.countDistinct("ts", "server_id"),
        F.sum(F.unix_timestamp("ts")),
        *[F.sum(F.round(F.col(c) * 100).cast("long")) for c in cols],
    ).first()
    return tuple(int(v or 0) for v in row)


def check_store(landed: DataFrame, rows: list, topic: str) -> tuple[int, int]:
    """Attempted = generated rows; failed = all of them if the fingerprints
    differ (a store is either exactly the input or wrong)."""
    want = fingerprint_rows(rows, topic)
    got = fingerprint_df(landed, topic)
    return len(rows), (0 if got == want else max(1, len(rows)))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return "NULL" if v is None else str(v)


def digest(columns: list[str], rows: list) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    normalized to strings and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return h.hexdigest()


def arrow_digest(table) -> str:
    """Hash of a result collected as a ``pyarrow.Table``."""
    return digest(table.column_names, [tuple(r.values()) for r in table.to_pylist()])


def duckdb_digest(con, sql: str) -> str:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return digest(cols, res.fetchall())
