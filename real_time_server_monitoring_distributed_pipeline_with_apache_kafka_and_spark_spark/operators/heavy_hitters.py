"""Mergeable SpaceSaving heavy-hitters sketch (Metwally et al. 2005;
mergeability per Agarwal et al., "Mergeable Summaries", PODS 2012).

The bounded-memory answer to "top keys by frequency" when the key space
is too large for an exact hash aggregate to be comfortable — the URL /
user-agent / token distribution question at 100 TB. Exact counting is
O(distinct keys) of aggregation state; a SpaceSaving summary is O(cap)
per partition, period, and the per-partition summaries merge into global
bounds:

- within a partition: ``count - err <= true_partition_count <= count``
  for every tracked key, and any key with true partition count greater
  than that partition's minimum tracked count is GUARANTEED tracked;
- across partitions: for a key, summing the present partitions' counts
  and crediting each absent partition with at most its summary floor
  (the minimum tracked count — an upper bound on anything untracked)
  yields ``lo = sum(count - err)`` and ``hi = sum(count) + sum(absent
  partitions' floors)`` with ``lo <= true_global <= hi``.

The partition pass is Arrow-batched ``mapInPandas``: each batch reduces
to per-key batch counts vectorized (pandas value_counts), and only the
per-DISTINCT-key merge into the capacity-bounded structure is a Python
loop — work per batch is O(distinct keys in batch), never O(rows).

Batch/stream symmetry: :func:`space_saving_partial` is also the
per-micro-batch transform of the streaming ingest leg
(``streaming.jobs.ingest_store_stream``) — summaries land in the
idempotent ``batch_id=N`` store and :func:`merge_summaries` over the
accreted store gives the same bound contract over the whole stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUMMARY_SCHEMA = "pid long, key string, cnt long, err long, floor long"


def space_saving_partial(
    df: DataFrame, key_col: str, capacity: int = 256
) -> DataFrame:
    """One SpaceSaving summary per partition: at most ``capacity`` rows
    of (pid, key, cnt, err, floor), where ``floor`` is the untracked-mass
    bound :func:`merge_summaries` charges to absent partitions —
    the partition's minimum tracked count once an eviction has happened,
    and exactly 0 while the summary is still under capacity (everything
    seen is tracked, so an absent key's true count IS 0; identical on
    every row of the partition). NULL keys count like any other key
    (``value_counts(dropna=False)``) — a missing dimension value is
    often the single biggest heavy hitter. ``pid`` identifies the
    summary, not a physical partition id — unique within one invocation.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str | None, tuple[int, int]] = {}  # key -> (cnt, err)
        saw_eviction = False
        pid = None
        for pdf in batches:
            if pid is None and len(pdf):
                pid = int(pdf["__pid"].iloc[0])
            # dropna=False: a NULL key is a real (often the biggest) heavy
            # hitter — e.g. a missing user-agent. Silently excluding it
            # would break the coverage guarantee with no error.
            vc = pdf["__key"].value_counts(dropna=False)
            for key, c in vc.items():
                if pd.isna(key):
                    key = None
                c = int(c)
                if key in counts:
                    cnt, err = counts[key]
                    counts[key] = (cnt + c, err)
                elif len(counts) < capacity:
                    counts[key] = (c, 0)
                else:
                    saw_eviction = True
                    evict = min(counts, key=lambda k: counts[k][0])
                    m = counts[evict][0]
                    del counts[evict]
                    # The classic SpaceSaving step: the newcomer inherits
                    # the evictee's count as possible overcount.
                    counts[key] = (m + c, m)
        if not counts:
            return
        # floor = the untracked-mass bound. Until the FIRST eviction the
        # structure tracked every key it ever saw, so an absent key's
        # true partition count is exactly 0 — reporting min-tracked there
        # would inflate every merged `hi` and the coverage threshold by
        # the min count of every under-capacity summary (near-vacuous
        # bounds on moderate-cardinality streams).
        floor = (
            min(c for c, _ in counts.values()) if saw_eviction else 0
        )
        yield pd.DataFrame(
            {
                "pid": [pid] * len(counts),
                "key": list(counts.keys()),
                "cnt": [c for c, _ in counts.values()],
                "err": [e for _, e in counts.values()],
                "floor": [floor] * len(counts),
            }
        )

    keyed = df.select(
        F.col(key_col).cast("string").alias("__key"),
        F.spark_partition_id().cast("long").alias("__pid"),
    )
    return keyed.mapInPandas(summarize, SUMMARY_SCHEMA)


def merge_summaries(summaries: DataFrame, pid_cols: list[str] | None = None) -> DataFrame:
    """Global heavy-hitter bounds from a union of per-partition (or
    per-micro-batch) summaries: (key, est, lo, hi) with
    ``lo <= true count <= hi`` and ``est = sum of tracked counts``
    (itself an upper bound on the tracked mass). Any key whose true
    global count exceeds the sum of all summary floors is guaranteed
    present. ``pid_cols`` identifies one summary (default ["pid"]; the
    streaming store probe passes ["batch_id", "pid"]).

    One hash agg over O(summaries x capacity) rows plus an O(#summaries)
    floors total collected driver-side (a single long, the IVF-centroid
    precedent) — never a scan of the raw data.
    """
    pid_cols = pid_cols or ["pid"]
    floors = summaries.select(*pid_cols, "floor").distinct()
    total_floor = floors.agg(F.sum("floor")).collect()[0][0] or 0
    per_key = summaries.groupBy("key").agg(
        F.sum("cnt").alias("est"),
        F.sum(F.col("cnt") - F.col("err")).alias("lo"),
        F.sum("floor").alias("_present_floor"),
    )
    return per_key.select(
        "key",
        "est",
        "lo",
        (F.col("est") + (F.lit(int(total_floor)) - F.col("_present_floor"))).alias("hi"),
    )
