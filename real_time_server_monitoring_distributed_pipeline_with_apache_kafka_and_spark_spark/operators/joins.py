"""Join operators beyond Spark's built-in surface: as-of and salted joins.

The reference's only join shape is the composite-key inner equi-join
(``spark_job1.py:18``, SURVEY.md SS2.3); these cover the two shapes large
time-series/monitoring pipelines need that Spark lacks as primitives:

- **as-of join**: for each left row, the most recent right row at or before
  its timestamp, per key. The naive formulation (range theta-join +
  aggregation) explodes quadratically inside hot keys; this implementation
  is the union+window merge: tag both sides, union, one shuffle on the key,
  per-key ordered ``last(ignorenulls)`` carry-forward. Cost = one shuffle +
  one sort, independent of time-range density.
- **salted join**: equi-join where one side has skewed hot keys. Salting
  splits each hot key into ``n_salts`` subkeys (left side gets a random
  salt, right side is replicated across all salts), so a hot key's rows
  spread over ``n_salts`` tasks instead of one straggler. Result is
  identical to the plain join (verified against the unsalted oracle). AQE
  skew-join handles moderate skew automatically; explicit salting is for
  the pathological keys AQE's split granularity can't reach.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    right_value_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: latest right row with ``right.ts <= left.ts`` per key.

    Tie policy: right rows AT the left timestamp match (<=); among right
    rows sharing one timestamp the last by the sort (arbitrary but
    deterministic per sort stability on value columns) wins — callers
    needing a specific tiebreak should pre-aggregate the right side to one
    row per (key, ts).

    Output: all left columns + ``right_value_cols`` (suffixed) and
    ``ts<suffix>`` = the matched right timestamp (NULL when no right row
    precedes the left row).

    The carried right columns travel as ONE struct under a single
    ``last(ignorenulls=True)``: carrying each column independently would
    stitch values from different right rows whenever a right row holds a
    NULL in one value column (and ``ts<suffix>`` would not correspond to
    the row a value came from).
    """
    if right_value_cols is None:
        right_value_cols = [
            c for c in right.columns if c not in key_cols and c != ts_col
        ]
    left_cols = left.columns

    r_payload = F.struct(
        *[F.col(c) for c in right_value_cols],
        F.col(ts_col).alias(f"_asof_{ts_col}"),
    )
    payload_type = right.select(r_payload.alias("_r")).schema["_r"].dataType

    # _side orders right (0) before left (1) at equal timestamps => <= match.
    l_tagged = left.select(
        *key_cols,
        F.col(ts_col),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left_cols if c not in key_cols and c != ts_col],
        F.lit(None).cast(payload_type).alias("_r"),
    )
    r_tagged = right.select(
        *key_cols,
        F.col(ts_col),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in key_cols and c != ts_col],
        r_payload.alias("_r"),
    )
    merged = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        *key_cols,
        ts_col,
        "_side",
        *[c for c in left_cols if c not in key_cols and c != ts_col],
        F.last("_r", ignorenulls=True).over(w).alias("_r"),
    )
    return (
        filled.filter(F.col("_side") == 1)
        .select(
            *key_cols,
            ts_col,
            *[c for c in left_cols if c not in key_cols and c != ts_col],
            *[F.col("_r")[c].alias(f"{c}{suffix}") for c in right_value_cols],
            F.col("_r")[f"_asof_{ts_col}"].alias(f"{ts_col}{suffix}"),
        )
    )


def bucketed_range_join(
    probe: DataFrame,
    build: DataFrame,
    probe_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Range join ``probe.x BETWEEN build.lo AND build.hi`` without a
    nested loop.

    Spark plans a pure non-equi join as BroadcastNestedLoopJoin — every
    probe row tested against every build interval, O(|probe| * |build|),
    which is the first thing to die at 100 TB. Bucketing converts it to an
    equi-join: each build interval explodes to the integer buckets it
    covers, each probe row hashes to exactly ONE bucket, equi-join on the
    bucket id (shuffle- or broadcast-hash, Catalyst's choice), then the
    exact BETWEEN predicate filters bucket-mates outside the band. Results
    are identical to the theta join; each probe row lands in one bucket so
    no pair dedup is needed. Cost: |build| * (avg_span/width + 1)
    replication, tunable via bucket_width (pick ~ the median interval
    span).

    Inner-only: the post-join BETWEEN filter would drop outer probe rows
    (NULL lo/hi fail BETWEEN) and the bucket explosion would surface
    unmatched build rows once per covered bucket — outer variants need a
    different construction, so anything but ``how='inner'`` raises.
    """
    if how != "inner":
        raise ValueError(
            f"bucketed_range_join supports how='inner' only, got {how!r}: "
            "the exact-BETWEEN post-filter and build-side bucket replication "
            "are not outer-join-safe"
        )
    bw = float(bucket_width)
    b = build.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bw).cast("long"),
                F.floor(F.col(hi_col) / bw).cast("long"),
            )
        ),
    )
    p = probe.withColumn("_bucket", F.floor(F.col(probe_col) / bw).cast("long"))
    return (
        p.join(b, on="_bucket", how=how)
        .filter(F.col(probe_col).between(F.col(lo_col), F.col(hi_col)))
        .drop("_bucket")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join, result-identical to ``left.join(right)``.

    Left rows get ``hash(full row) % n_salts`` (deterministic, uniform);
    the right side is exploded ``n_salts``-fold. Use when one or a few left
    keys dominate (hot server, null-ish default key) and the right side is
    too big to broadcast but small enough that ``n_salts`` copies of it
    shuffle acceptably — the standard trade for pathological skew.

    Left-oriented joins only: the right side is exploded ``n_salts``-fold,
    so right/full outer would surface each unmatched right key
    ``n_salts`` times — those variants raise.
    """
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "semi", "left_semi", "leftsemi",
        "anti", "left_anti", "leftanti",
    }
    if how not in allowed:
        raise ValueError(
            f"salted_join supports left-oriented joins only ({sorted(allowed)}), "
            f"got {how!r}: the exploded right side duplicates unmatched right "
            "keys under right/full outer"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n_salts)]))
    )
    return l_salted.join(r_salted, on=[*key_cols, "_salt"], how=how).drop("_salt")


def fuzzy_self_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """All pairs of rows whose ``text_col`` values are within edit
    distance 1, without a cross join (SymSpell / symmetric-delete
    blocking).

    Every string generates a candidate-key set: itself plus each
    single-character deletion. Two strings with Levenshtein distance
    <= 1 ALWAYS share at least one candidate key (equal -> the string
    itself; substitution at i -> both delete position i; insert/delete
    of one char -> the longer one's deletion equals the shorter string),
    so the blocking is lossless. Candidates meet in a plain equi-join on
    the key and are then verified with the exact ``levenshtein`` — the
    same generate/equi-join/verify shape as the MinHash and SimHash
    near-dup operators.

    Scale: candidate keys per row = O(len); the join is hash-partitioned
    on the key, never all-pairs. Shared-prefix corpora keep buckets
    small; a pathological bucket (thousands of strings one edit apart)
    is real duplication the verify step must score anyway. Output:
    ``(id_a, id_b, text_a, text_b, distance)`` with ``id_a < id_b``,
    deduplicated across shared keys.

    ``block_cols`` (r15, the entity-resolution blocking surface): when
    set, two rows can only pair when every block column is EQUAL — the
    block values are folded into the candidate hash key (so cross-block
    candidates never even meet in the join; at scale this divides every
    bucket by the block cardinality) and re-verified exactly alongside
    the edit distance (hash collisions only ever ADD candidates). Rows
    with a NULL block value never pair (standard ER semantics: a
    missing block key cannot assert a match). ``block_cols=None``
    preserves the original text-only behavior bit-for-bit.
    """
    blocks = list(block_cols or [])
    n = F.length(F.col(text_col))
    deletions = F.when(n >= 1, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.substring(F.col(text_col), F.lit(1), i - 1),
                F.col(text_col).substr(i + 1, n),
            ),
        )
    )).otherwise(F.array().cast("array<string>"))
    variants = F.array_union(F.array(F.col(text_col)), deletions)
    # The candidate join carries ONLY (id, 64-bit variant hash): the text
    # never rides through the explode/join/distinct shuffles — at ~19
    # variants per row, shipping the string through every stage dominated
    # the cost (measured 4.2s -> 1.9s at sf0.1 for the id-only shape). A
    # hash collision only ADDS candidate pairs, which the exact verify
    # below discards.
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                variants,
                lambda v: F.xxhash64(v, *[F.col(b) for b in blocks]),
            )
        ).alias("_key"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    id_pairs = (
        a.join(b, on="_key")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # Re-attach the strings by id for the exact verify. No broadcast hint:
    # AQE broadcasts the name table when it is small and falls back to a
    # shuffle join when it is not (the id-pair table is the small side at
    # dedup-corpus scale either way).
    left = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
        *[F.col(b).alias(f"_a_{b}") for b in blocks],
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
        *[F.col(b).alias(f"_b_{b}") for b in blocks],
    )
    out = (
        id_pairs.join(left, "id_a")
        .join(right, "id_b")
        .withColumn("distance", F.levenshtein("text_a", "text_b"))
        .filter(F.col("distance") <= 1)
    )
    # Exact block-equality re-verify (NULL == NULL is NULL => dropped).
    for b in blocks:
        out = out.filter(F.col(f"_a_{b}") == F.col(f"_b_{b}"))
    return out.select("id_a", "id_b", "text_a", "text_b", "distance")


def interval_event_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Event-interval inner join: pairs where ``right_ts`` falls in
    ``(left_ts, left_ts + window_seconds]`` for the same key — "which
    error followed this click within the hour", the batch analogue of a
    Structured Streaming stream-stream time-interval join
    (streaming.jobs.interval_join_stream shares the exact predicate,
    :func:`interval_bound`, so stream and batch results are comparable
    row-for-row).

    A plain ``join(key) .filter(range)`` is correct but shuffles every
    row of a hot key to one task and compares all left x right rows
    inside it. Here both sides additionally carry a coarse TIME BUCKET of
    width ``window_seconds`` in the equi-key (left: its own bucket; right:
    exploded to {bucket, bucket-1}, the only two buckets a qualifying
    left row can live in): the shuffle key becomes (key, bucket), so
    state per task is bounded by two windows' worth of one key's events
    — the batch mirror of exactly the state bound the streaming join
    gets from its watermark. 2x replication of the right side buys
    per-task work O(events-per-key-per-window), not O(events-per-key)².
    Pairs are never duplicated: buckets partition left rows, and each
    right row meets a given left bucket once.

    ``left_ts``/``right_ts`` must be distinct names; all other column
    names must be pre-disambiguated by the caller.

    The bucket is ``F.window(ts, w).start`` (a tumbling-window start
    timestamp), NOT an epoch division: the testdata's TIMESTAMP(NANOS)
    column surfaces as TIMESTAMP or TIMESTAMP_NTZ depending on session
    confs, and epoch extraction (``unix_micros``) rejects NTZ / would
    smuggle in the session timezone. Window-start arithmetic is
    type-preserving on both.
    """
    w = int(window_seconds)
    lb = left.withColumn("_bkt", F.window(F.col(left_ts), f"{w} seconds").start)
    r0 = F.window(F.col(right_ts), f"{w} seconds").start
    rb = right.withColumn(
        "_bkt", F.explode(F.array(r0, r0 - F.expr(f"INTERVAL {w} SECOND")))
    )
    return (
        lb.join(rb, [*key_cols, "_bkt"])
        .filter(interval_bound(left_ts, right_ts, w))
        .drop("_bkt")
    )


def interval_bound(left_ts: str, right_ts: str, window_seconds: int) -> Column:
    """The interval joins' time bound, defined once: ``right_ts`` in
    ``(left_ts, left_ts + window_seconds]``. :func:`interval_event_join`
    filters its bucketed equi-join with it; the stream-stream joins
    (``streaming.jobs.interval_join_stream``/``_full``) join on it, so
    both runners pair exactly the same rows."""
    upper = F.col(left_ts) + F.expr(f"INTERVAL {int(window_seconds)} SECOND")
    return (F.col(right_ts) > F.col(left_ts)) & (F.col(right_ts) <= upper)
