"""Streaming analytics legs: the reference jobs under Structured Streaming.

The reference's two alert jobs are not re-written here: each is one entry
of the pair table in operators/monitoring.py (``CPU_MEM``, ``NET_DISK``),
and :func:`streaming_alert_job` builds it with that module's
``fused_alert_job`` over watermarked inputs: one windowed aggregation over
the union of the pair's two topics, which pairs rows by ``ts`` inside each
window, so the continuous query keeps one stateful operator. It emits the
windows of the batch ``alert_job`` (join -> window), which stays the
reference answer. What streaming adds on top (SURVEY.md SS2.7):

- watermarks (T3): the reference has NO late-data policy (batch emit-once);
  we bound state with ``withWatermark`` so the 30s/10s window state
  doesn't grow forever.
- output modes: ``append`` emits each window once, after the watermark
  passes its end (closest to the reference's emit-once-at-end semantics,
  continuously).
- delivery (T4): checkpoint + idempotent sinks give exactly-once to files,
  replacing producer acks/retries + consumer auto-commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..operators import monitoring as ops
from .metrics import read_state_metadata

DEFAULT_WATERMARK = "1 minute"


def watermarked(df: DataFrame, ts_col: str = "ts", delay: str = DEFAULT_WATERMARK) -> DataFrame:
    return df.withWatermark(ts_col, delay)


def streaming_alert_job(
    pair: ops.AlertPair, left: DataFrame, right: DataFrame, config=DEFAULT_CONFIG
) -> DataFrame:
    """A reference alert job as a continuous pipeline:
    :func:`operators.monitoring.fused_alert_job` over watermarked inputs.
    Its one stateful operator, the sliding-window aggregate, holds each
    (server, window)'s rows from both topics and emits the window once the
    watermark passes its end.

    Pairing inside the window IS the reference's implicit stream alignment
    (SURVEY SS2.3): topics interleave arbitrarily, and a row waits in its
    window's state for its partner until the watermark closes the window.
    Each side is watermarked before the union, so the global watermark is
    the min of the two (Spark's default policy). Late-row policy: a row is
    dropped for the windows the watermark has already closed and kept for
    the open ones, even when its own ``ts`` is behind the watermark.
    """
    return ops.fused_alert_job(pair, watermarked(left), watermarked(right), config=config)


def refuse_join_checkpoint(spark, checkpoint_dir: str) -> None:
    """Fail before ``start()`` on a checkpoint written by the former
    stream-stream join plan of the alert jobs (``symmetricHashJoin`` state),
    which :func:`streaming_alert_job` cannot resume: Spark would only fail
    inside the stream thread after start, without naming the fix. A missing
    checkpoint, or one without state, passes."""
    operators = {r.operatorName for r in read_state_metadata(spark, checkpoint_dir).collect()}
    if "symmetricHashJoin" in operators:
        raise RuntimeError(
            f"checkpoint {checkpoint_dir} holds stream-stream join state written by an "
            "older plan of this alert job, which now runs as one windowed aggregation "
            "and cannot resume it. Move the checkpoint directory aside, with the output "
            "directory of a file sink (its commit log follows the checkpoint's batch "
            "ids), and restart."
        )


def streaming_cpu_mem_job(cpu: DataFrame, mem: DataFrame, config=DEFAULT_CONFIG) -> DataFrame:
    """spark_job1 as a continuous pipeline (:data:`operators.monitoring.CPU_MEM`)."""
    return streaming_alert_job(ops.CPU_MEM, cpu, mem, config)


def streaming_net_disk_job(net: DataFrame, disk: DataFrame, config=DEFAULT_CONFIG) -> DataFrame:
    """spark_job2 as a continuous pipeline (:data:`operators.monitoring.NET_DISK`)."""
    return streaming_alert_job(ops.NET_DISK, net, disk, config)


def _interval_join(left, right, key_cols, left_ts, right_ts, window_seconds, watermark, how):
    """The one definition of the interval-join modes' watermarks and
    predicate: right events in ``(left_ts, left_ts + window_seconds]``
    with equal keys. Returns the join and both watermarked sides, whose
    column references pick one key copy."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        F.col(right_ts) > F.col(left_ts)
    ) & (
        F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {int(window_seconds)} SECOND")
    )
    for k in key_cols:
        cond = cond & (lw[k] == rw[k])
    return lw.join(rw, cond, how), lw, rw


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    watermark: str = DEFAULT_WATERMARK,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream TIME-INTERVAL join (inner or left-outer): right
    events landing in ``(left_ts, left_ts + window_seconds]`` for the
    same key — the streaming leg of operators.joins.interval_event_join
    (identical predicate, so an incremental run over a replayed stream
    produces exactly the batch pair set; pinned by
    tests/test_streaming.py::test_interval_join_stream_matches_batch).

    Both sides carry a watermark and the join condition bounds right_ts
    relative to left_ts in BOTH directions — that pair is what lets
    Spark evict join state: a buffered left row can stop waiting once
    the right watermark passes ``left_ts + window``, and vice versa.
    Without the time bound the state store grows without limit; this is
    the streaming mirror of the batch operator's bucket-bounded shuffle
    state.

    With ``how="left_outer"`` a left row with NO matching right event
    inside its window still emits, with NULL right columns, once the
    right watermark passes ``left_ts + window`` and Spark can prove no
    match can arrive (the "clicks that did NOT error within the hour"
    leg); those rows lag matched rows by up to the watermark delay. The
    drained stream equals the batch left join row-for-row (pinned by
    tests/test_streaming.py::test_interval_join_stream_outer_matches_batch).
    """
    if how not in ("inner", "left_outer"):
        # Keeping only the LEFT key copy (below) is correct for inner and
        # left-outer joins; with right_outer/full_outer an unmatched right
        # row would emit NULL keys. interval_join_stream_full coalesces
        # both key copies for the full-outer mode — use it instead.
        raise ValueError(
            f"interval_join_stream supports how in ('inner', 'left_outer'); got {how!r}"
            " — for full_outer use interval_join_stream_full"
        )
    joined, _, rw = _interval_join(
        left, right, key_cols, left_ts, right_ts, window_seconds, watermark, how
    )
    # Both sides carry the key columns; keep the left copy.
    return joined.drop(*[rw[k] for k in key_cols])


def interval_join_stream_full(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """FULL-OUTER stream-stream time-interval join — the both-sided
    audit the inner/left legs can't give: left rows with no right event
    in their window AND right events with no preceding left row each
    emit null-extended once the opposing watermark proves absence
    (clicks that never errored + errors no click explains, in one
    stream). Completes the interval-join mode matrix next to
    :func:`interval_join_stream` (inner/left_outer).

    The mode needs its own column contract: an unmatched RIGHT row has
    NULL in the left side's key copy, so dropping the right copy (the
    inner/left leg's move) would corrupt its keys — here the two copies
    COALESCE into one key column, which is total because any emitted row
    matched on the keys or preserves exactly one side. Same predicate
    and state-eviction contract as the other modes (time bound in both
    directions + watermarks); drained-stream == batch full join pinned
    by tests/test_streaming.py::test_interval_join_stream_full_matches_batch.
    """
    joined, lw, rw = _interval_join(
        left, right, key_cols, left_ts, right_ts, window_seconds, watermark, "full_outer"
    )
    left_rest = [c for c in left.columns if c not in key_cols]
    right_rest = [c for c in right.columns if c not in key_cols]
    return joined.select(
        *[F.coalesce(lw[k], rw[k]).alias(k) for k in key_cols],
        *[lw[c] for c in left_rest],
        *[rw[c] for c in right_rest],
    )


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon.

    The streaming counterpart of operators.dedup.exact_dedup: an
    at-least-once transport (Kafka producer retries, reference
    producer.py:15-17) can re-deliver messages; this bounds the dedup
    state by event time — a duplicate arriving within ``watermark`` of
    the original is dropped, later than that it would re-emit (state for
    its key has been evicted). State is hash-partitioned on the key, so
    it scales horizontally like any keyed state.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def curation_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    min_quality: float = 0.33,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming leg of ``queries.dedup.pipeline_corpus_curation``: the
    stateless + keyed-state prefix of the curation pipeline, running
    continuously over a document stream.

    quality filter (stateless, same ``operators.text.quality_score``
    expressions as the batch path — one logical plan, two runners) ->
    streaming exact dedup on the text key (:func:`dedup_stream`, state
    bounded by the watermark). The near-dup stage splits: the per-document
    work (shingle + MinHash signature) runs incrementally — feed this
    stream's output into :func:`minhash_ingest_stream` to accrete the
    profile store — and only the corpus-wide candidate join + verify
    (``minhash_lsh_pairs_from_profiles`` over the store) runs as a
    periodic probe, over profile rows instead of re-scanning the corpus.

    Output schema matches the batch quality-filter stage plus whatever
    columns ``docs`` carries; each distinct text's FIRST arrival within
    the watermark horizon survives (the batch pipeline's min-id
    representative coincides with first-arrival when ids are assigned in
    arrival order, as the replay producer does).
    """
    from ..operators.text import quality_score

    scored = quality_score(docs, text_col=text_col)
    # Exclude any pre-existing 'quality' from the passthrough columns:
    # quality_score overwrites it in place, so naming it twice here would
    # produce a duplicate (ambiguous) output column.
    passthrough = [c for c in docs.columns if c != "quality"]
    kept = scored.filter(F.col("quality") >= min_quality).select(*passthrough, "quality")
    return dedup_stream(kept, [text_col], ts_col=ts_col, watermark=watermark)


def streaming_window_alerts(
    events: DataFrame,
    value_col: str = "cpu_pct",
    entity_col: str = "server_id",
    config=DEFAULT_CONFIG,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Single-stream windowed aggregation + alert (no join leg)."""
    agged = ops.sliding_window_agg(
        watermarked(events, delay=watermark),
        {"avg_value": F.avg(value_col), "n_events": F.count(F.lit(1))},
        entity_col=entity_col,
        window=config.window,
    )
    return agged.select(
        entity_col,
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "avg_value",
        "n_events",
    )


def session_window_stream(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming twin of the batch ``monitor_session_window`` query:
    gap-based session windows (``F.session_window``) per user with
    append-mode emission — a session row emits once the watermark
    guarantees no further event can extend it (event past session_end +
    gap is impossible once watermark > session_end).

    This is the T2 session-window surface ON A STREAM: state per key is
    the open session's (start, end, partial aggs) only — Spark merges
    sessions whose gaps close under late data and the watermark bounds
    how long any session can stay open. Same aggregate set and column
    names as the batch query, so stream output == batch output on a
    drained file stream (pinned by tests/test_streaming.py::
    test_session_window_stream_matches_batch).
    """
    agged = (
        watermarked(events, delay=watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    return agged.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


def ingest_store_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    transform=None,
):
    """THE idempotent ``batch_id=N`` store contract, defined once.

    Every ingest leg in this module (raw landing, LSH vector tags,
    MinHash profiles, rollup partials, profile partials, CDC changelog)
    is this function with a different per-batch ``transform``: each
    micro-batch is transformed and lands in its own ``batch_id=N``
    directory with mode=overwrite, so a batch replayed after a failure
    (checkpoint says N wasn't committed) OVERWRITES its own partial
    output instead of appending duplicates — per-batch idempotence + the
    checkpointed offset log = effectively-once, the same contract the
    built-in file sink gets from its transaction log. Centralizing it
    means a delivery-contract bugfix lands in every store at once.

    ``transform`` maps the micro-batch DataFrame to the rows to land
    (default: verbatim). It may instead return ``(df, cleanup)`` where
    ``cleanup()`` runs after the write — for transforms that persist an
    intermediate (e.g. the MinHash shingle scan) and must release it
    once the batch is durable.

    Returns the DataStreamWriter (caller starts it). Read the store back
    with :func:`read_ingest_store`; re-layout it with
    :func:`compact_ingest_store`.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df if transform is None else transform(batch_df)
        cleanup = None
        if isinstance(out, tuple):
            out, cleanup = out
        write_store_partition(out, store_path, batch_id)
        if cleanup is not None:
            cleanup()

    return stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def write_store_partition(df: DataFrame, store_path: str, batch_id: int) -> None:
    """Land one micro-batch's rows in its own ``batch_id=N`` directory
    with mode=overwrite — the single definition of the delivery write
    that makes a replayed batch overwrite its own partial output. Every
    store write (the :func:`ingest_store_stream` legs AND multi-sink
    legs like :func:`novelty_ingest_stream`) goes through here, so a
    delivery-contract fix lands in all of them at once."""
    import os

    df.write.mode("overwrite").parquet(
        os.path.join(store_path, f"batch_id={batch_id}")
    )


def vector_ingest_stream(
    vectors: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_table: int = 6,
    n_tables: int = 12,
    dim: int = 64,
    seed: int = 7,
):
    """Streaming ingest leg for the ANN tier: embeddings arrive on a
    stream, each micro-batch is LSH-tagged and appended to the bucketed
    candidate store that batch probes read.

    The reference's landing-leg shape (``consumers/consumer1.py:40-49``:
    Kafka in, demuxed file store out) applied to vectors. The tagging is
    ``operators.similarity.lsh_tag_corpus`` with the same seeded
    hyperplanes as the batch operator, so a store built incrementally is
    row-identical to one built in a single batch pass — probing it with
    ``ann_lsh_topk_tagged`` returns exactly what ``ann_lsh_topk`` would
    on the union corpus (pinned by
    tests/test_streaming.py::test_vector_ingest_stream_matches_batch).

    Delivery: each micro-batch lands in its own ``batch_id=N`` directory
    with mode=overwrite (the :func:`ingest_store_stream`
    contract) — a replayed batch overwrites its own partial output, so
    checkpoint + idempotent writes give exactly-once into the store.

    At scale the store is append-heavy and probe-read; periodic
    compaction can re-cluster it by (table_idx, bucket) for probe
    locality, but the probe broadcasts the (small) query side, so the
    store layout only affects scan parallelism, not shuffle volume.

    Returns the DataStreamWriter (caller starts it).
    """
    from ..operators.similarity import lsh_tag_corpus

    def transform(batch_df: DataFrame) -> DataFrame:
        return lsh_tag_corpus(
            batch_df,
            id_col=id_col,
            vec_col=vec_col,
            planes_per_table=planes_per_table,
            n_tables=n_tables,
            dim=dim,
            seed=seed,
        )

    return ingest_store_stream(vectors, store_path, checkpoint_dir, transform)


def ivfpq_ingest_stream(
    vectors: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    centroids,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Streaming ingest leg for the IVF-PQ tier (the eighth store on the
    :func:`ingest_store_stream` contract): the index — coarse centroids
    + PQ codebooks — is built OFFLINE (``operators.similarity.
    ivf_centroids`` / ``pq_codebooks``, the FAISS train-then-add
    lifecycle), and every arriving vector encodes against it at ingest
    (cell assignment + PQ codes, ``ivfpq_encode_corpus``). The store
    accretes (id, cell, codes, vector) rows; probing it with
    ``probe_ivfpq_store`` answers exactly what ``ann_ivfpq_topk`` would
    on the union corpus with the same index (pinned by
    tests/test_streaming.py::test_ivfpq_ingest_stream_matches_batch).

    At 100 TB the codes column is what makes this stream-shaped: each
    arrival's store row adds m bytes of index payload, and the encode
    work happens exactly once per vector, at arrival — no periodic
    re-index pass over the corpus.
    """
    from ..operators.similarity import ivfpq_encode_corpus

    def transform(batch_df: DataFrame) -> DataFrame:
        return ivfpq_encode_corpus(
            batch_df, centroids, books, id_col=id_col, vec_col=vec_col, dim=dim
        )

    return ingest_store_stream(vectors, store_path, checkpoint_dir, transform)


def probe_ivfpq_store(
    spark,
    store_path: str,
    queries: DataFrame,
    centroids,
    books,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    dim: int = 64,
    refine: int = 3,
):
    """Answer top-k queries from the accreted IVF-PQ store: reads the
    encoded rows and runs the SAME probe tail as the batch operator
    (``ivfpq_probe_encoded``), so stream-built == batch-built by
    construction."""
    from ..operators.similarity import ivfpq_probe_encoded

    encoded = read_ingest_store(spark, store_path).select(
        id_col, "cell", "codes", vec_col
    )
    return ivfpq_probe_encoded(
        encoded,
        queries,
        centroids,
        books,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        n_probe=n_probe,
        dim=dim,
        refine=refine,
    )


def minhash_ingest_stream(
    docs: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 48,
    seed: int = 42,
    shingle_n: int = 3,
):
    """Streaming ingest leg for MinHash near-dup: documents arrive on a
    stream, each micro-batch is profiled (signature + exact shingle set,
    ``operators.dedup.minhash_profiles``) and appended to a persistent
    store that near-dup probes read.

    This closes the curation pipeline's documented lambda split (the
    near-dup stage was batch-only): signatures ARE incrementally
    computable — each document's profile depends only on its own text and
    the seeded coefficients — so the expensive shingle+hash work happens
    once, at arrival. Only the banded candidate join + verify
    (:func:`...dedup.minhash_lsh_pairs_from_profiles`) runs at probe
    time, over profile rows (~num_perm ints + the shingle set per doc)
    instead of the raw corpus. Same landing-leg shape as
    :func:`vector_ingest_stream` (reference ``consumers/consumer1.py:40-49``
    applied to signatures); probe parity with the one-shot batch
    ``minhash_lsh_pairs`` on the union corpus is pinned by
    tests/test_streaming.py::test_minhash_ingest_stream_matches_batch.

    Delivery: per-micro-batch ``batch_id=N`` directories with
    mode=overwrite (the :func:`ingest_store_stream`
    contract) — replayed batches overwrite their own partial output, so
    checkpoint + idempotent writes give exactly-once into the store.
    Assumes document ids are unique across the stream (re-deliveries of
    the same id within a batch replay land identically; cross-batch id
    reuse would duplicate profile rows — upstream's key contract, same
    as the reference's unique (ts, server_id)).

    Documents with fewer than ``shingle_n`` tokens produce no profile row
    (they have no shingles and can never pair) — consistent with the
    batch pipeline.

    Returns the DataStreamWriter (caller starts it).
    """
    from ..operators.dedup import minhash_profiles, word_shingles

    def transform(batch_df: DataFrame):
        shingled = word_shingles(batch_df, id_col, text_col, n=shingle_n)
        profiles = minhash_profiles(
            shingled, id_col=id_col, num_perm=num_perm, seed=seed
        )
        return profiles, shingled.unpersist

    return ingest_store_stream(docs, store_path, checkpoint_dir, transform)


def novelty_ingest_stream(
    docs: DataFrame,
    store_path: str,
    audit_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
):
    """Streaming twin of ``queries.text.text_ngram_novelty``: per ingest
    BATCH, the fraction of its distinct shingles never seen in any
    earlier batch — the per-batch corpus-freshness gauge the batch
    query's docstring promises ('worth tracking per ingest batch BEFORE
    paying for MinHash'). A crawl refresh full of re-scrapes shows up as
    novelty collapsing within one micro-batch, not after a corpus-wide
    near-dup pass.

    Two stores on the :func:`ingest_store_stream` batch_id=N contract,
    both written by one foreachBatch:

    - shingle store (``store_path``): each batch lands ONLY its
      first-seen shingles, so the store is the exact first-seen set and
      a shingle's ``batch_id`` partition IS its first-arrival batch.
    - audit store (``audit_path``): one row per batch —
      (n_shingles, n_new, novelty) — read it back with
      :func:`read_novelty_audit`.

    Idempotence: the 'seen' set is read from the store FILTERED TO
    ``batch_id < N`` (partition-pruned), so a replayed batch N never
    sees its own crashed partial output and lands byte-identical
    results; both writes are per-batch overwrites.

    Scale: the anti-join checks the batch's (small, distinct) shingle
    set against the full history — an exact first-seen test is a
    membership probe against ALL prior state, the honest cost. The
    store side shuffles once per batch; at 100 TB the mitigations are
    runtime bloom pushdown on the shingle key (pinned for this engine's
    joins) or downgrading to an approximate bloom 'seen' set when
    exactness can be traded. NOTE: generic
    :func:`compact_ingest_store` is NOT applicable to this store — the
    ``batch_id`` partitioning IS the first-seen bookkeeping the
    ``batch_id < N`` filter depends on, and that compactor drops it; a
    novelty-store compaction would have to re-cluster WITHIN the
    batch_id partitions.

    Returns the DataStreamWriter (caller starts it).
    """
    from pyspark.errors import AnalysisException

    from ..operators.dedup import word_shingles

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Narrow try: ONLY the path-existence case may fall back to an
        # empty history. A store with a broken layout (missing batch_id
        # column, foreign schema) must fail LOUDLY — treating it as
        # empty would re-land every shingle as 'new' and silently
        # corrupt the first-seen set.
        try:
            store = spark.read.parquet(store_path)
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" not in str(ex):
                raise
            store = None  # first batch: no store yet
        seen = (
            store.filter(F.col("batch_id") < batch_id).select("shingle")
            if store is not None
            else spark.createDataFrame([], "shingle string")
        )
        sh = (
            word_shingles(batch_df, id_col, text_col, n=shingle_n)
            .select("shingle")
            .distinct()
            .persist()
        )
        new = None
        try:
            new = sh.join(seen, "shingle", "left_anti").persist()
            write_store_partition(new, store_path, batch_id)
            n_total, n_new = sh.count(), new.count()
            audit = spark.createDataFrame(
                [(n_total, n_new, (n_new / n_total) if n_total else None)],
                "n_shingles long, n_new long, novelty double",
            )
            write_store_partition(audit.coalesce(1), audit_path, batch_id)
        finally:
            sh.unpersist()
            if new is not None:
                new.unpersist()

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def read_novelty_audit(spark, audit_path: str) -> DataFrame:
    """Read the per-batch novelty audit built by
    :func:`novelty_ingest_stream`: (batch_id, n_shingles, n_new,
    novelty), ordered by batch_id."""
    return spark.read.parquet(audit_path).select(
        "batch_id", "n_shingles", "n_new", "novelty"
    ).orderBy("batch_id")


def bucket_count_stream(
    stream: DataFrame,
    value_col: str = "value",
    width: float = 50.0,
    n_buckets: int = 10,
) -> DataFrame:
    """Streaming metric histogram: running per-bucket counts of a metric
    stream, using the SAME integer-math bucket expression as the batch
    drift query (``operators.monitoring.metric_bucket``), so the final
    streamed histogram is row-identical to the batch histogram over the
    same rows (pinned by
    tests/test_streaming.py::test_drift_stream_matches_batch).

    State is n_buckets rows of counts — O(1), no watermark needed; the
    classic complete/update-mode aggregation. Feed the result to
    :func:`psi_vs_reference` per micro-batch (foreachBatch) to raise
    drift alarms against a landed reference histogram.
    """
    from ..operators.monitoring import metric_bucket

    return (
        stream.select(
            metric_bucket(F.col(value_col), width, n_buckets).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_vs_reference(
    counts: DataFrame,
    reference: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index of a live histogram against a reference
    histogram (both ``(bucket, n)`` tables, e.g. the landed first-half
    histogram vs :func:`bucket_count_stream`'s running counts).

    Same smoothing/rounding policy as the batch drift query
    (Laplace +0.5 per present bucket, 9-decimal floor rounding, ordered
    total), so a streamed histogram produces the batch query's exact PSI
    (pinned by the stream==batch drift test). Input tables are
    bucket-count-sized — every step here is trivially small; the heavy
    lifting (the scan) already happened upstream.
    """
    from pyspark.sql.window import Window

    from ..functions.numeric import display_round

    ref = reference.select(F.col("bucket"), F.col("n").alias("n_ref"))
    live = counts.select(F.col("bucket"), F.col("n").alias("n_live"))
    merged = ref.join(live, "bucket", "full").select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).alias("n_a"),
        F.coalesce("n_live", F.lit(0)).alias("n_b"),
    )
    w = Window.partitionBy()
    p_a = (F.col("n_a") + 0.5) / (F.sum("n_a").over(w) + 0.5 * n_buckets)
    p_b = (F.col("n_b") + 0.5) / (F.sum("n_b").over(w) + 0.5 * n_buckets)
    contrib = (p_a - p_b) * F.log(p_a / p_b)
    enriched = merged.select(
        "bucket",
        "n_a",
        "n_b",
        display_round(p_a, 9).alias("p_a"),
        display_round(p_b, 9).alias("p_b"),
        display_round(contrib, 9).alias("psi_contrib"),
    )
    w_total = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return enriched.withColumn(
        "psi_total", display_round(F.sum("psi_contrib").over(w_total), 9)
    )


def rollup_ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    value_col: str = "value",
):
    """Streaming ingest leg for incremental aggregates: each micro-batch
    lands its PARTIAL per-key aggregate (count + exact-decimal sum) in
    the idempotent ``batch_id=N`` store; the merged rollup is one
    re-aggregation over the store (:func:`probe_rollup_store`) and equals
    the one-shot batch aggregate on the union input — sum/count form a
    commutative monoid, which is the same algebra Spark's own map-side
    partial aggregation exploits, applied ACROSS micro-batches.

    Store rows are O(keys) per batch (not O(events)), so a month of
    micro-batches stays tiny next to the raw stream; compaction =
    materializing the probe (itself a valid single-batch partial).
    Exact DECIMAL sums make the merge order-independent, so the probe is
    bit-identical to batch regardless of batch boundaries (pinned by
    tests/test_streaming.py::test_rollup_ingest_stream_matches_batch).

    Same idempotent-store delivery contract as the other ingest legs
    (:func:`ingest_store_stream`).
    """

    def transform(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("sum_val"),
        )

    return ingest_store_stream(stream, store_path, checkpoint_dir, transform)


def probe_rollup_store(spark, store_path: str, key_cols: list[str]) -> DataFrame:
    """Merged rollup of a :func:`rollup_ingest_stream` store: sum the
    partials per key (monoid merge), derive the mean from the exact
    pieces. Output: key cols + n, sum_val (double), mean_val."""
    merged = (
        read_ingest_store(spark, store_path)
        .groupBy(*key_cols)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_val").alias("_sum"),
        )
    )
    return merged.select(
        *key_cols,
        "n",
        F.col("_sum").cast("double").alias("sum_val"),
        (F.col("_sum").cast("double") / F.col("n")).alias("mean_val"),
    )


def profile_ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    numeric_cols: list[str],
):
    """Streaming ingest leg for INCREMENTAL COLUMN PROFILING: each
    micro-batch lands one partial-statistics row per profiled column
    (count / null count / min / max / exact decimal sum / a DataSketches
    HLL sketch blob) in the idempotent ``batch_id=N`` store. Every piece
    merges commutatively, so :func:`probe_profile_store` reproduces a
    one-shot pass over the union input: the exact statistics
    bit-identically, and the distinct ESTIMATE within HLL error of the
    single-pass sketch (DataSketches unions run an HLL_8 accumulator
    internally, so union and single-sketch estimates can differ by a
    fraction of a percent — both stay inside the lgK error band).
    This closes the audit pack's batch-only gap the same way the
    rollup/CDC/ANN/MinHash legs closed theirs: data-quality monitoring
    becomes a per-batch O(columns) append, never a rescan.

    Store rows are O(columns) per batch. Same idempotent-store delivery
    contract as the other ingest legs (:func:`ingest_store_stream`).
    """
    if not numeric_cols:
        # Fail at build time, not as an opaque failure inside
        # foreachBatch at the first micro-batch.
        raise ValueError("numeric_cols must be non-empty")

    def transform(batch_df: DataFrame) -> DataFrame:
        parts = None
        for col in numeric_cols:
            c = F.col(col)
            one = batch_df.agg(
                F.lit(col).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(c).alias("n_nonnull"),
                F.min(c).cast("double").alias("min_value"),
                F.max(c).cast("double").alias("max_value"),
                F.sum(c.cast("decimal(38,6)")).alias("sum_dec"),
                # Sketch the canonical string rendering: hll_sketch_agg
                # accepts int/string/binary only, and double->string is
                # Spark's injective shortest-round-trip form (the same
                # canonicalization profile_table's distinct pass uses).
                F.hll_sketch_agg(c.cast("string")).alias("sk"),
            )
            parts = one if parts is None else parts.unionByName(one)
        return parts

    return ingest_store_stream(stream, store_path, checkpoint_dir, transform)


def probe_profile_store(spark, store_path: str) -> DataFrame:
    """Merged column profile of a :func:`profile_ingest_stream` store:
    monoid-merge the per-batch partials (sums of counts/sums, min of
    mins, max of maxes, HLL union of sketches) and derive the final
    statistics. Output matches operators.profiling.profile_table's
    numeric columns: (col_name, n_rows, n_nulls, n_distinct, min_value,
    max_value, mean_value) with n_distinct an HLL estimate."""
    merged = (
        read_ingest_store(spark, store_path)
        .groupBy("col_name")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nonnull").alias("_nn"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.sum("sum_dec").alias("_sum"),
            F.hll_union_agg("sk").alias("_sk"),
        )
    )
    return merged.select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("_nn")).alias("n_nulls"),
        F.hll_sketch_estimate("_sk").alias("n_distinct"),
        "min_value",
        "max_value",
        (F.col("_sum").cast("double") / F.col("_nn")).alias("mean_value"),
    )


def changelog_ingest_stream(
    changes: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """Streaming ingest leg for CDC state: changelog rows arrive on a
    stream and land verbatim in a per-micro-batch ``batch_id=N`` store;
    the CURRENT state is materialized lazily by
    :func:`probe_changelog_store` (one ``apply_changelog`` max_by pass
    over the store) and kept small by
    :func:`compact_changelog_store` (winner-per-key rewrite).

    This is the incremental MERGE-INTO pattern on the same idempotent
    store contract as :func:`vector_ingest_stream` /
    :func:`minhash_ingest_stream`: replayed batches overwrite their own
    ``batch_id`` directory, so checkpoint + idempotent writes give
    exactly-once into the store, and latest-wins (a max over the
    seq tuple) is insensitive to both replay duplication within a batch
    replay and ARRIVAL order across batches — a late-arriving row with
    an older sequence loses the max_by merge no matter when it lands,
    which is what makes probe == one-shot batch ``apply_changelog`` on
    the union log (pinned by
    tests/test_streaming.py::test_changelog_ingest_stream_matches_batch).

    Returns the DataStreamWriter (caller starts it).
    """
    return ingest_store_stream(changes, store_path, checkpoint_dir)


def probe_changelog_store(
    spark,
    store_path: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    base: DataFrame | None = None,
) -> DataFrame:
    """Current state of a :func:`changelog_ingest_stream` store: one
    latest-wins pass (``operators.changelog.apply_changelog``), tombstoned
    keys omitted.

    After a compaction swap, pass the compacted winners as ``base``:
    the store path then only holds batches landed SINCE the swap, and
    associativity makes ``probe(base ∪ store) == probe(full raw log)``
    (a compacted path and a live ``batch_id=N`` tree can't share one
    directory — parquet partition discovery rejects the mixed layout,
    hence the explicit union here rather than a co-located write)."""
    from ..operators.changelog import apply_changelog

    log = read_ingest_store(spark, store_path)
    if base is not None:
        log = base.select(log.columns).unionByName(log)
    return apply_changelog(
        log,
        key_cols=key_cols,
        seq_cols=seq_cols,
        op_col=op_col,
        delete_op=delete_op,
    )


def compact_changelog_store(
    spark,
    store_path: str,
    compacted_path: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Semantic compaction for the CDC store: rewrite the accreted log as
    ONE winner row per key — INCLUDING tombstone winners
    (``keep_tombstones=True``): latest-wins is associative, so probing
    ``compacted ∪ later batches`` equals probing the full raw log, but a
    dropped tombstone would let a late pre-delete row resurrect its key.
    Unlike :func:`compact_ingest_store` (row-preserving layout rewrite)
    this is row-REDUCING: store size becomes O(live keys + tombstones),
    not O(history). Writes to a NEW path — swap-on-success, same
    contract as :func:`compact_vector_store`. Returns a reader on the
    compacted store."""
    from ..operators.changelog import apply_changelog

    winners = apply_changelog(
        read_ingest_store(spark, store_path),
        key_cols=key_cols,
        seq_cols=seq_cols,
        op_col=op_col,
        keep_tombstones=True,
    )
    winners.write.mode("overwrite").parquet(compacted_path)
    return spark.read.parquet(compacted_path)


def read_ingest_store(spark, store_path: str) -> DataFrame:
    """Read any per-micro-batch ``batch_id=N`` ingest store, dropping the
    delivery bookkeeping column. The single definition of the store's
    read shape — the named readers and :func:`compact_ingest_store` all
    go through it so layout changes land everywhere at once."""
    return spark.read.parquet(store_path).drop("batch_id")


def read_minhash_store(spark, store_path: str) -> DataFrame:
    """Read the profile store built by :func:`minhash_ingest_stream`
    (the ``minhash_profiles`` layout, ready for
    ``minhash_lsh_pairs_from_profiles``)."""
    return read_ingest_store(spark, store_path)


def read_vector_store(spark, store_path: str) -> DataFrame:
    """Read the LSH candidate store built by :func:`vector_ingest_stream`
    (the ``lsh_tag_corpus`` layout, ready for ``ann_lsh_topk_tagged``)."""
    return read_ingest_store(spark, store_path)


def _fs_total_bytes(spark, path: str, suffix: str = ".parquet") -> int:
    """Recursive byte total of ``suffix`` files under ``path`` via the
    Hadoop FileSystem API — works against any store Spark itself can
    read (local, HDFS, object stores), unlike ``os.walk``, which only
    sees the driver's local filesystem. Uses the JVM gateway, so classic
    sessions only (same constraint as caching.py; Spark Connect exposes
    no ``_jvm``)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = fs.listFiles(jpath, True)
    total = 0
    while files.hasNext():
        status = files.next()
        if status.getPath().getName().endswith(suffix):
            total += status.getLen()
    return total


def compact_vector_store(
    spark, store_path: str, compacted_path: str, target_file_bytes: int = 128 << 20
) -> DataFrame:
    """Compact the streaming ingest store: many small per-micro-batch
    files -> few ~``target_file_bytes`` files clustered by
    (table_idx, bucket).

    A long-running ingest stream accretes one directory per micro-batch;
    at scale that is the classic small-files problem (driver-side listing
    cost + tiny scan tasks). Periodic compaction rewrites the store with
    the output partition count sized from the store's actual bytes (the
    ~128 MB-file rule) and hash-clustered on the probe join key, so
    candidate rows for one bucket are contiguous in few files. Rows are
    unchanged — probing the compacted store returns exactly the probe
    results of the raw store (pinned by
    tests/test_streaming.py::test_vector_store_compaction).

    Writes to a NEW path (swap-on-success: the caller atomically points
    readers at the compacted path and deletes the raw one after; an
    in-place overwrite would race the running ingest stream).

    Returns a reader on the compacted store.
    """
    return compact_ingest_store(
        spark,
        store_path,
        compacted_path,
        cluster_cols=["table_idx", "bucket"],
        target_file_bytes=target_file_bytes,
    )


def compact_ingest_store(
    spark,
    store_path: str,
    compacted_path: str,
    cluster_cols: list[str] | None = None,
    target_file_bytes: int = 128 << 20,
) -> DataFrame:
    """Generic compaction for any per-micro-batch ``batch_id=N`` ingest
    store (vector tags, MinHash profiles, landed documents): rewrite the
    accreted small files into ~``target_file_bytes`` files, optionally
    hash-clustered on ``cluster_cols`` for probe locality. Row-preserving;
    output count sized from the store's ACTUAL bytes via the Hadoop FS
    API (works against object stores, not just the driver's local disk).
    Writes to a NEW path — swap-on-success, see
    :func:`compact_vector_store`."""
    import math

    total_bytes = _fs_total_bytes(spark, store_path)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    df = read_ingest_store(spark, store_path)
    if cluster_cols:
        df = df.repartition(n_out, *cluster_cols)
    else:
        df = df.repartition(n_out)
    df.write.mode("overwrite").parquet(compacted_path)
    return spark.read.parquet(compacted_path)


def with_contiguous_row_ids(data: DataFrame, id_col: str = "row_id") -> DataFrame:
    """Assign contiguous 0..N-1 row ids without a global single-task sort.

    zipWithIndex-style, expressed as DataFrame ops: per-partition positions
    (row_number partitioned by spark_partition_id — parallel across
    partitions), plus each partition's starting offset (running sum over
    the per-partition counts). The only global window runs over
    #partitions rows, not data rows, so no task ever sees the whole
    dataset — unlike ``Window.orderBy(monotonically_increasing_id())``,
    which funnels every row through one task.

    Ids are ordered by (partition id, position within partition) = the
    scan order for file sources.
    """
    from pyspark.sql import Window

    pos_w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
    tagged = data.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_pos", F.row_number().over(pos_w) - 1
    )
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0)))
        .select("_pid", "_off")
    )
    return (
        tagged.join(F.broadcast(offsets), "_pid")
        .withColumn(id_col, (F.col("_off") + F.col("_pos")).cast("long"))
        .drop("_pid", "_pos", "_off")
    )


def rate_replay_stream(
    data: DataFrame,
    rows_per_second: int = 100,
    id_col: str = "row_id",
) -> DataFrame:
    """S3's streaming demo path: replay a static dataset at a fixed rate.

    The reference's producer replays its CSV row-by-row into Kafka
    (``producer.py:61-86``); without a broker, the idiomatic Spark demo is
    the ``rate`` source (monotonic ``value`` counter at ``rowsPerSecond``)
    inner-joined to the data keyed by row number — each micro-batch emits
    the next slice of the dataset, preserving arrival order. The data side
    is a static (batch) DataFrame: stream-static joins need no watermark
    and the static side is planned like any dim (broadcast when small).

    Row ids come from :func:`with_contiguous_row_ids` (per-partition
    offsets — no single-partition global window, so the replay side scales
    with partitions).
    """
    spark = data.sparkSession
    # localCheckpoint: the row-number assignment is nondeterministic, which
    # streaming plans reject — materializing the keyed static side cuts the
    # lineage so the stream sees a plain (deterministic) scan.
    keyed = with_contiguous_row_ids(data, id_col).localCheckpoint()
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
        .select(F.col("value").alias(id_col), F.col("timestamp").alias("emit_ts"))
    )
    return rate.join(keyed, id_col)


def heavy_hitter_ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str,
    capacity: int = 256,
):
    """Streaming ingest leg for BOUNDED-MEMORY heavy hitters: each
    micro-batch reduces to its SpaceSaving summaries
    (``operators.heavy_hitters.space_saving_partial`` — O(capacity) rows
    per partition, never O(rows)) and lands in the idempotent
    ``batch_id=N`` store; :func:`probe_heavy_hitter_store` merges the
    accreted summaries into global (key, est, lo, hi) bounds with
    ``lo <= true stream count <= hi``. The approximate sibling of
    :func:`rollup_ingest_stream`: the rollup store is exact but O(keys);
    this store is O(batches x partitions x capacity) regardless of how
    many distinct keys the stream carries — the 100 TB top-k answer.

    Seventh store on the :func:`ingest_store_stream` contract — one
    transform, delivery semantics inherited.
    """
    from ..operators.heavy_hitters import space_saving_partial

    def transform(batch_df: DataFrame) -> DataFrame:
        return space_saving_partial(batch_df, key_col, capacity=capacity)

    return ingest_store_stream(stream, store_path, checkpoint_dir, transform)


def probe_heavy_hitter_store(spark, store_path: str) -> DataFrame:
    """Global heavy-hitter bounds over a :func:`heavy_hitter_ingest_stream`
    store. Summaries are identified by (batch_id, pid) — pids repeat
    across micro-batches, so the probe keeps the partition-discovery
    ``batch_id`` column instead of the usual :func:`read_ingest_store`
    drop."""
    from ..operators.heavy_hitters import merge_summaries

    return merge_summaries(
        spark.read.parquet(store_path), pid_cols=["batch_id", "pid"]
    )


def bloom_ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "c_custkey",
    segment: str | None = "BUILDING",
    segment_col: str = "c_mktsegment",
):
    """Streaming twin of the queries.relational.rel_bloom_semi_join
    FILTER BUILD: each micro-batch of arriving dim rows (e.g. customer
    upserts) lands its 1-row Bloom partial (key count + 64 ``bit_or``
    words over the k=2 md5 bit positions) in the idempotent
    ``batch_id=N`` store. Count is a +-monoid and each word an |-monoid,
    so the merged probe (:func:`probe_bloom_store`) is WORD-FOR-WORD the
    batch-built filter on the union input, for ANY micro-batch
    boundaries — a runtime join filter that accretes with the dimension
    stream instead of being rebuilt per run (the FAISS
    train-then-add analogue for join pruning). Store rows are O(1) per
    micro-batch (one 65-column row); same delivery contract as the
    other ingest legs (:func:`ingest_store_stream`). ``segment``/
    ``segment_col`` scope the build to one dim slice (the batch query's
    shape); ``segment=None`` builds over every arriving key — use that
    for dimension streams without a segment column."""
    from ..queries.relational import _bloom_hashes, bloom_build_aggs

    def transform(batch_df: DataFrame) -> DataFrame:
        b0, b1 = _bloom_hashes(F.col(key_col))
        if segment is not None:
            batch_df = batch_df.filter(F.col(segment_col) == segment)
        dimbits = batch_df.select(b0.alias("b0"), b1.alias("b1"))
        return dimbits.agg(*bloom_build_aggs())

    return ingest_store_stream(stream, store_path, checkpoint_dir, transform)


def probe_bloom_store(spark, store_path: str) -> DataFrame:
    """Merged Bloom filter over a :func:`bloom_ingest_stream` store:
    sum the key counts, ``bit_or`` the words across partials (monoid
    merge; empty partials contribute NULL words, coalesced to 0), and
    finish with the shared probe shape — (n_dim_keys, bloom array,
    bits_set), the exact row the batch build broadcasts."""
    from ..queries.relational import _BLOOM_WORDS, bloom_finish

    merged = read_ingest_store(spark, store_path).agg(
        F.coalesce(F.sum("n_dim_keys"), F.lit(0)).alias("n_dim_keys"),
        *[F.bit_or(f"w{w}").alias(f"w{w}") for w in range(_BLOOM_WORDS)],
    )
    return bloom_finish(merged)


def drift_ingest_stream(stream: DataFrame, store_path: str, checkpoint_dir: str):
    """Streaming twin of queries.similarity.sim_embedding_drift: each
    micro-batch of arriving vectors lands its 1-row drift PARTIAL (the
    half counts + lattice-quantized per-dimension component sums from
    drift_sum_exprs) in the idempotent ``batch_id=N`` store. Because
    every column is a long sum — a commutative monoid — the merged probe
    (:func:`probe_drift_store`) is bit-identical to the one-shot batch
    report on the union input, for ANY micro-batch boundaries (pinned by
    tests/test_streaming.py::test_drift_ingest_stream_matches_batch).

    Store rows are O(1) per micro-batch (one 130-column row), so the
    drift monitor costs nothing next to the vector stream itself; the
    probe re-aggregates the store and runs the 64-dim mean/cosine/L2
    arithmetic once. Same delivery contract as the other ingest legs
    (:func:`ingest_store_stream`).
    """
    from ..queries.similarity import drift_sum_exprs

    def transform(batch_df: DataFrame) -> DataFrame:
        return batch_df.agg(*drift_sum_exprs())

    return ingest_store_stream(stream, store_path, checkpoint_dir, transform)


def probe_drift_store(spark, store_path: str) -> DataFrame:
    """Merged drift report over a :func:`drift_ingest_stream` store: sum
    the 1-row partials (monoid merge; an empty micro-batch contributes
    NULL-safe zeros via coalesce) and finish with the shared 64-dim
    arithmetic — the exact code path the batch query runs."""
    from ..queries.similarity import _DRIFT_DIM, drift_report_from_sums

    cols = ["n_ref", "n_cur"]
    for i in range(_DRIFT_DIM):
        cols += [f"r{i}", f"c{i}"]
    merged = read_ingest_store(spark, store_path).agg(
        *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in cols]
    )
    return drift_report_from_sums(merged)
