"""Streaming ingest-STORE legs (split from test_streaming.py for suite
balance): the ten idempotent ``batch_id=N`` stores — vector/ANN, MinHash,
IVF-PQ, changelog/CDC, rollup, profile, heavy-hitter, drift, binary-media,
first-seen shingle novelty —
plus compaction invariance, checkpoint-restart exactly-once, foreachBatch
idempotence, and the Trigger.AvailableNow drain mode."""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (
    schemas,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
    jobs,
)

from .fixtures import metrics_wide_df, narrow_splits, write_csv_batch


def write_csv_batch(df, path):
    df.coalesce(1).write.mode("append").csv(path, header=False)

def test_vector_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming ANN ingest leg: embeddings stream in across micro-batches,
    each LSH-tagged and appended to the candidate store; probing the
    incrementally-built store returns exactly what the one-shot batch
    operator returns on the union corpus (same seeded hyperplanes)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        ann_lsh_topk,
        ann_lsh_topk_tagged,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 310))

    # Split the corpus into 3 arrival batches and land them as parquet
    # directories the file stream replays one per micro-batch.
    src = str(tmp_path / "vec_src")
    for i, (lo, hi) in enumerate(((10, 110), (110, 210), (210, 310))):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "vec_store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.vector_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "vec_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    tagged = jobs.read_vector_store(spark, store)
    streamed = sorted(
        tuple(r) for r in ann_lsh_topk_tagged(tagged, queries_df, k=5).collect()
    )
    batch = sorted(tuple(r) for r in ann_lsh_topk(corpus, queries_df, k=5).collect())
    assert streamed == batch
    assert len(streamed) > 0

def test_minhash_ingest_stream_matches_batch(spark, tmp_path):
    """Incremental near-dup leg: documents stream in across micro-batches,
    each profiled (MinHash signature + exact shingle set) and appended to
    the store; probing the incrementally-built store returns exactly the
    pairs the one-shot batch operator finds on the union corpus."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_profiles,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # Split the corpus into 3 arrival batches and land them as parquet
    # directories the file stream replays one per micro-batch.
    src = str(tmp_path / "mh_src")
    for i, (lo, hi) in enumerate(((0, 170), (170, 340), (340, 500))):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "mh_store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.minhash_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "mh_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    profiles = jobs.read_minhash_store(spark, store)
    streamed = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 12))
        for r in minhash_lsh_pairs_from_profiles(profiles, threshold=0.8).collect()
    )
    batch = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(word_shingles(docs), threshold=0.8).collect()
    )
    spark.catalog.clearCache()
    assert streamed == batch
    assert len(streamed) > 0

def test_stream_store_recheck_report_and_probe_plan(spark):
    """r15 registry composite (VERDICT r14 #2a): the streaming==batch
    convergence report. Pins: (1) the report's internal accounting is
    consistent (n_survivors = n_docs - n_dropped, 3 measured ingest
    batches, non-trivial drop set at sf0.001); (2) the REAL store-probe
    plan — which the registry guard sweep cannot see because the
    registry frame is the bounded local report (the ADVICE r14 #3
    class) — passes the shipped assert_scale_safe with zero Python
    stages; (3) the survivor digest changes when the survivor set does
    (it is a set fingerprint, not decoration)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        minhash_lsh_pairs_from_profiles,
        minhash_profiles,
        word_shingles,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
        assert_scale_safe,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.dedup import (
        dedup_stream_store_recheck,
    )

    sf = "/root/testdata/sf0.001"
    row = dedup_stream_store_recheck(spark, sf).collect()[0]
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert row["n_docs"] == docs.count()
    assert row["n_ingest_batches"] == 3
    assert 0 < row["n_dropped"] <= row["n_lsh_pairs"]
    assert row["n_survivors"] == row["n_docs"] - row["n_dropped"]
    assert 0 < row["n_profiled"] <= row["n_docs"]
    # digest = count+sum+md5 fingerprint: dropping one survivor moves it
    assert row["survivor_id_sum"] > 0 and row["survivor_digest"] > 0

    # The REAL probe plan (profiles -> banded candidates -> verify),
    # built from an in-memory profile table with the same layout the
    # store lands: scale-safe, bounded exchanges, fully JVM-side.
    profiles = minhash_profiles(word_shingles(docs))
    pairs = minhash_lsh_pairs_from_profiles(profiles)
    report = assert_scale_safe(pairs, max_exchanges=8)
    assert report["python_stages"] == 0, report
    spark.catalog.clearCache()


def test_minhash_ingest_checkpoint_restart(spark, tmp_path):
    """Kill the MinHash ingest stream between micro-batches and restart it
    from its checkpoint: the store must come out identical to an
    uninterrupted run (no lost and no duplicated profiles), and the probe
    must still equal the batch operator on the union corpus."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_profiles,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "mhr_src")
    store = str(tmp_path / "mhr_store")
    ckpt = str(tmp_path / "mhr_ckpt")

    def start():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        return jobs.minhash_ingest_stream(stream, store, checkpoint_dir=ckpt).start()

    # phase 1: half the corpus, then the query dies
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(f"{src}/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # phase 2 arrives while the query is DOWN; restart from checkpoint
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(f"{src}/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    profiles = jobs.read_minhash_store(spark, store)
    # exactly one profile row per shingled doc — nothing lost, nothing doubled
    assert profiles.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    streamed = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 12))
        for r in minhash_lsh_pairs_from_profiles(profiles, threshold=0.8).collect()
    )
    batch = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(word_shingles(docs), threshold=0.8).collect()
    )
    spark.catalog.clearCache()
    assert streamed == batch and len(streamed) > 0

def test_minhash_store_compaction(spark, tmp_path):
    """The generic ingest-store compaction applies to the MinHash profile
    store: fewer files, probe-identical pairs."""
    import glob as _glob

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        minhash_lsh_pairs_from_profiles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "mhc_src")
    for i, (lo, hi) in enumerate(((0, 125), (125, 250), (250, 375), (375, 500))):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).repartition(
            4
        ).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "mhc_store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.minhash_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "mhc_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    raw = jobs.read_minhash_store(spark, store)
    compacted_path = str(tmp_path / "mhc_store_compacted")
    compacted = jobs.compact_ingest_store(spark, store, compacted_path)

    raw_files = _glob.glob(f"{store}/*/*.parquet")
    compacted_files = _glob.glob(f"{compacted_path}/*.parquet")
    assert len(compacted_files) < len(raw_files), (len(raw_files), len(compacted_files))

    before = sorted(
        tuple(r) for r in minhash_lsh_pairs_from_profiles(raw, threshold=0.8).collect()
    )
    after = sorted(
        tuple(r)
        for r in minhash_lsh_pairs_from_profiles(compacted, threshold=0.8).collect()
    )
    spark.catalog.clearCache()
    assert before == after and len(before) > 0

def test_vector_store_compaction(spark, tmp_path):
    """Compacting the ingest store (many per-micro-batch files -> few
    bucket-clustered files) must not change probe results, and must
    actually reduce the file count."""
    import glob as _glob

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        ann_lsh_topk_tagged,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    src = str(tmp_path / "cvec_src")
    for i, (lo, hi) in enumerate(((10, 60), (60, 110), (110, 160), (160, 210))):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).repartition(
            4
        ).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "cvec_store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.vector_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "cvec_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    raw = jobs.read_vector_store(spark, store)
    compacted_path = str(tmp_path / "cvec_store_compacted")
    compacted = jobs.compact_vector_store(spark, store, compacted_path)

    raw_files = _glob.glob(f"{store}/*/*.parquet")
    compacted_files = _glob.glob(f"{compacted_path}/*.parquet")
    assert len(compacted_files) < len(raw_files), (len(raw_files), len(compacted_files))

    before = sorted(tuple(r) for r in ann_lsh_topk_tagged(raw, queries_df, k=5).collect())
    after = sorted(
        tuple(r) for r in ann_lsh_topk_tagged(compacted, queries_df, k=5).collect()
    )
    assert before == after and len(before) > 0

def test_changelog_ingest_stream_matches_batch(spark, tmp_path):
    """Incremental CDC leg: changelog rows stream in across micro-batches
    and land verbatim in the store; probing the store (one latest-wins
    pass) equals the one-shot batch apply_changelog on the union log."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.changelog import (
        apply_changelog,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    changes = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    src = str(tmp_path / "cdc_src")
    # shuffle arrival order vs event order: batch 1 gets the LATER events
    for i, cond in enumerate(
        (F.col("event_id") % 3 == 2, F.col("event_id") % 3 == 0, F.col("event_id") % 3 == 1)
    ):
        changes.filter(cond).coalesce(1).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "cdc_store")
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.changelog_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "cdc_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    probed = jobs.probe_changelog_store(
        spark, store, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )
    want = apply_changelog(
        changes, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )
    got_rows = sorted(map(tuple, probed.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert len(got_rows) > 0

def test_changelog_compaction_keeps_tombstones(spark, tmp_path):
    """Semantic compaction: winner-per-key INCLUDING tombstones. A
    late-arriving pre-delete row landing AFTER the compaction swap must
    not resurrect its key, and live keys must survive with their winning
    payload."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.changelog import (
        apply_changelog,
    )

    schema = "k string, seq int, payload string, op string"
    early = spark.createDataFrame(
        [("a", 1, "a1", "U"), ("a", 3, "a3", "U"),
         ("b", 1, "b1", "U"), ("b", 5, "b-del", "D")],
        schema,
    )
    store = str(tmp_path / "raw_store")
    early.write.parquet(f"{store}/batch_id=0")

    compacted_path = str(tmp_path / "compacted")
    compacted = jobs.compact_changelog_store(
        spark, store, compacted_path, key_cols=["k"], seq_cols=["seq"]
    )
    # row-REDUCING: one winner per key, tombstone for b still materialized
    rows = {r["k"]: (r["seq"], r["op"]) for r in compacted.collect()}
    assert rows == {"a": (3, "U"), "b": (5, "D")}

    # post-swap store: a LATE pre-delete row for b and a newer row for a
    late_store = str(tmp_path / "late_store")
    late = spark.createDataFrame(
        [("b", 4, "b4-late", "U"), ("a", 7, "a7", "U")], schema
    )
    late.write.parquet(f"{late_store}/batch_id=0")

    state = jobs.probe_changelog_store(
        spark, late_store, key_cols=["k"], seq_cols=["seq"], base=compacted
    )
    got = {r["k"]: r["payload"] for r in state.collect()}
    # b stays deleted (late seq=4 loses to compacted tombstone seq=5)
    assert got == {"a": "a7"}

    # and the union probe equals one-shot batch on the full raw log
    full = early.unionByName(late)
    want = {
        r["k"]: r["payload"]
        for r in apply_changelog(full, key_cols=["k"], seq_cols=["seq"]).collect()
    }
    assert got == want

def test_rollup_ingest_stream_matches_batch(spark, tmp_path):
    """Incremental aggregate leg: per-micro-batch partial aggregates
    merge to EXACTLY the one-shot batch aggregate (decimal sums make the
    merge order-independent), regardless of how rows split into
    batches."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ru_src")
    for i, cond in enumerate(
        (F.col("event_id") % 3 == 2, F.col("event_id") % 3 == 0, F.col("event_id") % 3 == 1)
    ):
        ev.filter(cond).coalesce(1).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "ru_store")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.rollup_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "ru_ckpt"),
        key_cols=["event_type"], value_col="value",
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # store is partial-aggregate-sized: rows = keys x batches, not events
    raw = spark.read.parquet(store)
    assert raw.count() <= 5 * 3

    probed = jobs.probe_rollup_store(spark, store, key_cols=["event_type"])
    want = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
        )
        .select(
            "event_type", "n",
            F.col("_sum").cast("double").alias("sum_val"),
            (F.col("_sum").cast("double") / F.col("n")).alias("mean_val"),
        )
    )
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, want.collect()))

def test_changelog_ingest_checkpoint_restart(spark, tmp_path):
    """Kill the changelog ingest stream between micro-batches and restart
    from its checkpoint: no lost and no duplicated log rows, and the
    probe still equals the one-shot batch merge on the union log."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.changelog import (
        apply_changelog,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    changes = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    src = str(tmp_path / "cdcr_src")
    store = str(tmp_path / "cdcr_store")
    ckpt = str(tmp_path / "cdcr_ckpt")

    def start():
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        return jobs.changelog_ingest_stream(stream, store, checkpoint_dir=ckpt).start()

    changes.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    changes.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    landed = jobs.read_ingest_store(spark, store)
    assert landed.count() == changes.count()
    assert landed.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0

    probed = jobs.probe_changelog_store(
        spark, store, key_cols=["user_id"], seq_cols=["ts", "event_id"]
    )
    want = apply_changelog(changes, key_cols=["user_id"], seq_cols=["ts", "event_id"])
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, want.collect()))

def test_profile_ingest_stream_matches_batch(spark, tmp_path):
    """Incremental column profiling: per-batch monoid partials (counts,
    min/max, exact decimal sums, HLL sketch blobs) merged at probe time
    must equal a one-shot pass over the union input — exact stats
    bit-identical, the distinct estimate within HLL error of both the
    single-pass sketch estimate and the exact count."""
    data = spark.range(4000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7) % 900).cast("double").alias("x"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 50).cast("double").alias("y"),
    )
    src = str(tmp_path / "prof_src")
    for cond in (F.col("k") % 3 == 0, F.col("k") % 3 == 1, F.col("k") % 3 == 2):
        data.filter(cond).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(data.schema).option("maxFilesPerTrigger", 1).parquet(src)
    store, ckpt = str(tmp_path / "prof_store"), str(tmp_path / "prof_ckpt")
    q = jobs.profile_ingest_stream(stream, store, ckpt, ["k", "x", "y"]).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.col_name: r for r in jobs.probe_profile_store(spark, store).collect()}
    for col in ("k", "x", "y"):
        c = F.col(col)
        want = data.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.hll_sketch_estimate(F.hll_sketch_agg(c.cast("string"))).alias("nd"),
            F.min(c).cast("double").alias("mn"),
            F.max(c).cast("double").alias("mx"),
            (F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c)).alias("mean"),
        ).collect()[0]
        g = got[col]
        assert (g.n_rows, g.n_nulls) == (want.n_rows, want.n_nulls), col
        # Union vs single-pass sketches agree to HLL tolerance (the
        # union's internal HLL_8 accumulator is not bit-identical).
        assert abs(g.n_distinct - want.nd) / max(want.nd, 1) < 0.03, col
        exact_nd = data.select(col).distinct().count() - (1 if col == "y" else 0)
        assert abs(g.n_distinct - exact_nd) / max(exact_nd, 1) < 0.05, col
        assert (g.min_value, g.max_value) == (want.mn, want.mx), col
        assert g.mean_value == want.mean, col  # exact decimal merge

def test_profile_ingest_stream_rejects_empty_cols(spark, tmp_path):
    """Regression (r06): an empty numeric_cols must fail at build time
    with a clear message, not as None.write inside foreachBatch."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming.jobs import (
        profile_ingest_stream,
    )

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="numeric_cols"):
        profile_ingest_stream(stream, str(tmp_path / "s"), str(tmp_path / "c"), [])

def test_heavy_hitter_store_bounds_and_coverage(spark, tmp_path):
    """Approximate bounded-state heavy hitters: the streamed SpaceSaving
    store's merged bounds must bracket every key's exact count, and
    every true heavy hitter (count > sum of summary floors) must be
    present — with summary size O(capacity) per partition per batch, not
    O(distinct keys)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming.jobs import (
        heavy_hitter_ingest_stream,
        probe_heavy_hitter_store,
    )

    # Zipf-ish: key k gets ~N/(k+1) rows; 3000 distinct keys, capacity 64.
    rows = spark.range(60000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("k"), F.pmod(F.pow(F.col("id") % 9973, 2).cast("long"), 3000).cast("string")).alias("key"),
    )
    exact = {r.key: r.n for r in rows.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}

    src = str(tmp_path / "src")
    half = F.col("event_id") < 30000
    rows.filter(half).coalesce(2).write.mode("append").parquet(src)
    rows.filter(~half).coalesce(2).write.mode("append").parquet(src)
    stream = spark.readStream.schema(rows.schema).option("maxFilesPerTrigger", 1).parquet(src)
    store, cp = str(tmp_path / "store"), str(tmp_path / "cp")
    q = heavy_hitter_ingest_stream(stream, store, cp, "key", capacity=64).start()
    q.processAllAvailable()
    q.stop()

    merged = {r.key: (r.est, r.lo, r.hi) for r in probe_heavy_hitter_store(spark, store).collect()}
    # Store stayed bounded: at most batches x partitions x capacity rows.
    n_summary_rows = spark.read.parquet(store).count()
    assert n_summary_rows <= 2 * 2 * 64
    # Bounds bracket the truth for every reported key.
    for k, (est, lo, hi) in merged.items():
        true = exact.get(k, 0)
        assert lo <= true <= hi, (k, lo, true, hi)
        assert est <= hi
    # Coverage: every key whose count exceeds the total floor is present.
    floors = spark.read.parquet(store).select("batch_id", "pid", "floor").distinct()
    total_floor = floors.agg(F.sum("floor")).collect()[0][0]
    for k, n in exact.items():
        if n > total_floor:
            assert k in merged, (k, n, total_floor)
    # And the test is non-vacuous: some guaranteed heavy hitters exist.
    assert sum(1 for n in exact.values() if n > total_floor) >= 1

def test_heavy_hitter_ingest_checkpoint_restart(spark, tmp_path):
    """Kill the heavy-hitter ingest between micro-batches and restart
    from checkpoint: the summary store must be identical to an
    uninterrupted run's (no lost and no duplicated summaries — the
    shared idempotent-store contract), and the merged bounds must still
    bracket every exact count."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming.jobs import (
        heavy_hitter_ingest_stream,
        probe_heavy_hitter_store,
    )

    rows = spark.range(20000).select(
        F.col("id").alias("event_id"),
        F.concat(
            F.lit("k"), F.pmod(F.xxhash64("id"), F.lit(500)).cast("string")
        ).alias("key"),
    )
    exact = {
        r.key: r.n
        for r in rows.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    src, store, ckpt = (
        str(tmp_path / "hh_src"),
        str(tmp_path / "hh_store"),
        str(tmp_path / "hh_ckpt"),
    )

    def start():
        stream = (
            spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        return heavy_hitter_ingest_stream(stream, store, ckpt, "key", capacity=48).start()

    rows.filter(F.col("event_id") < 10000).coalesce(2).write.parquet(f"{src}/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows.filter(F.col("event_id") >= 10000).coalesce(2).write.parquet(f"{src}/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    raw = spark.read.parquet(store)
    # one summary per (batch, pid), each within capacity
    per_summary = raw.groupBy("batch_id", "pid").count().collect()
    assert all(r["count"] <= 48 for r in per_summary)
    assert raw.select("batch_id").distinct().count() == 2
    merged = {
        r.key: (r.lo, r.hi) for r in probe_heavy_hitter_store(spark, store).collect()
    }
    for k, (lo, hi) in merged.items():
        assert lo <= exact.get(k, 0) <= hi, (k, lo, exact.get(k, 0), hi)

def test_ivfpq_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming IVF-PQ ingest: the index (coarse centroids + PQ
    codebooks) is trained offline, vectors stream in across micro-batches
    and encode at arrival; probing the accreted store answers exactly
    what the one-shot batch operator answers on the union corpus with
    the same index."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        ann_ivfpq_topk,
        ivf_centroids,
        pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 310))

    # Offline index build on the full corpus (the FAISS train step).
    centroids = ivf_centroids(corpus)
    books = pq_codebooks(16, 16, 64, seed=11)

    src = str(tmp_path / "pq_src")
    for i, (lo, hi) in enumerate(((10, 110), (110, 210), (210, 310))):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "pq_store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.ivfpq_ingest_stream(
        stream, store, str(tmp_path / "pq_ckpt"), centroids, books
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = sorted(
        tuple(r)
        for r in jobs.probe_ivfpq_store(
            spark, store, queries_df, centroids, books, k=5
        ).collect()
    )
    batch = sorted(
        tuple(r) for r in ann_ivfpq_topk(corpus, queries_df, k=5).collect()
    )
    assert streamed == batch
    assert len(streamed) > 0

def test_ivfpq_store_compaction_preserves_probe(spark, tmp_path):
    """Compacting the IVF-PQ store (generic batch_id compaction,
    clustered on cell for probe locality) must not change a single
    probe answer."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_probe_encoded,
        pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 210))
    centroids = ivf_centroids(corpus)
    books = pq_codebooks(16, 16, 64, seed=11)

    src = str(tmp_path / "src")
    for i, (lo, hi) in enumerate(((10, 110), (110, 210))):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(f"{src}/b{i}")
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.ivfpq_ingest_stream(
        stream, store, str(tmp_path / "ckpt"), centroids, books
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    before = sorted(
        tuple(r)
        for r in jobs.probe_ivfpq_store(
            spark, store, queries_df, centroids, books, k=5
        ).collect()
    )
    compacted = jobs.compact_ingest_store(
        spark, store, str(tmp_path / "compacted"), cluster_cols=["cell"]
    )
    after = sorted(
        tuple(r)
        for r in ivfpq_probe_encoded(
            compacted.select("vec_id", "cell", "codes", "embedding"),
            queries_df,
            centroids,
            books,
            k=5,
        ).collect()
    )
    assert after == before and len(before) > 0

def test_drift_ingest_stream_matches_batch(spark, tmp_path):
    """Embedding-drift streaming twin: per-micro-batch 1-row partials
    (long-lattice component sums) merge to BITWISE the batch
    sim_embedding_drift report, for any micro-batch boundaries — and the
    store stays O(1) rows per batch."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_embedding_drift,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "dr_src")
    # Split UNALIGNED with the md5 halves so every batch mixes ref/cur.
    for i, cond in enumerate(
        (F.col("vec_id") % 3 == 2, F.col("vec_id") % 3 == 0, F.col("vec_id") % 3 == 1)
    ):
        emb.filter(cond).coalesce(1).write.parquet(f"{src}/b{i}")

    store = str(tmp_path / "dr_store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.drift_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "dr_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    raw = spark.read.parquet(store)
    assert raw.count() == 3  # one partial row per micro-batch

    probed = jobs.probe_drift_store(spark, store)
    want = sim_embedding_drift(spark, "/root/testdata/sf0.001")
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in want.collect()]

def test_drift_ingest_checkpoint_restart(spark, tmp_path):
    """T4 for the drift store: kill the ingest stream between
    micro-batches and restart from its checkpoint — no lost and no
    double-counted partials, so the probe still equals the one-shot
    batch drift report bitwise."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_embedding_drift,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "drr_src")
    store = str(tmp_path / "drr_store")
    ckpt = str(tmp_path / "drr_ckpt")

    def start():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        return jobs.drift_ingest_stream(stream, store, checkpoint_dir=ckpt).start()

    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Each micro-batch landed exactly one partial row.
    assert spark.read.parquet(store).count() == 2
    probed = jobs.probe_drift_store(spark, store)
    want = sim_embedding_drift(spark, "/root/testdata/sf0.001")
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in want.collect()]

def test_ingest_store_available_now_drains_and_stops(spark, tmp_path):
    """T6-operational: Trigger.AvailableNow runs the ingest store as a
    SCHEDULED BATCH DRAIN — process the whole current backlog with
    streaming semantics (checkpointed offsets, bounded micro-batches via
    maxFilesPerTrigger), then stop on its own. A second invocation after
    more files arrive must resume FROM THE CHECKPOINT and land only the
    new backlog — the cron-driven ingest mode (no always-on cluster)
    that shares every delivery guarantee with the continuous stream."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming.jobs import (
        ingest_store_stream,
        read_ingest_store,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(40).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    for cond in (F.col("id") < 20, F.col("id") >= 20):
        base.filter(cond).coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            ingest_store_stream(stream, store, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive  # drained the backlog and stopped itself

    drain()
    got = sorted(r.id for r in read_ingest_store(spark, store).collect())
    assert got == list(range(40))

    # New backlog arrives; the next scheduled drain lands ONLY it.
    base2 = spark.range(40, 60).select(F.col("id"), (F.col("id") % 7).alias("k"))
    base2.coalesce(1).write.mode("append").parquet(src)
    drain()
    got = sorted(r.id for r in read_ingest_store(spark, store).collect())
    assert got == list(range(60))

def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """foreachBatch per-batch-directory overwrite + checkpoint restart:
    rows delivered exactly once across a stop/new-data/restart cycle."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming.jobs import (
        ingest_store_stream,
    )

    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    wide = metrics_wide_df(spark)
    cpu, *_ = narrow_splits(wide)
    first = cpu.filter(F.col("server_id") != "server_1")
    second = cpu.filter(F.col("server_id") == "server_1")
    write_csv_batch(first, src)

    def start():
        stream = spark.readStream.schema(schemas.METRICS_CPU).csv(src)
        return ingest_store_stream(stream, sink, ckpt).start()

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    write_csv_batch(second, src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.option("basePath", sink).parquet(sink + "/batch_id=*")
    assert out.count() == cpu.count()
    assert out.select("ts", "server_id").distinct().count() == cpu.count()

def test_binary_file_stream_lands_decoded_features(spark, tmp_path):
    """Continuous multimodal landing: media files arriving in a watched
    directory stream through the decode chain into the idempotent
    batch_id store; the accreted store equals a one-shot batch decode of
    the same files, and a restart from checkpoint neither loses nor
    duplicates files."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.multimodal import (
        decode_features,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        read_binary_files,
        read_binary_files_stream,
    )

    media = tmp_path / "watched"
    media.mkdir()

    def write_batch(lo, hi):
        for i in range(lo, hi):
            blob = bytes((i * 31 + j * 7) % 256 for j in range(150 + i * 20))
            (media / f"clip_{i}.bin").write_bytes(blob)

    def transform(batch_df):
        payload = batch_df.select(
            F.xxhash64("path").alias("doc_id"), F.col("content").alias("payload")
        )
        return decode_features(payload)

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    def start():
        stream = read_binary_files_stream(
            spark, str(media), glob="*.bin", max_files_per_trigger=2
        )
        return jobs.ingest_store_stream(stream, store, ckpt, transform).start()

    write_batch(0, 5)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    write_batch(5, 9)  # arrive while the stream is down
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    landed = jobs.read_ingest_store(spark, store)
    want = transform(read_binary_files(spark, str(media), glob="*.bin"))
    got_rows = sorted(map(tuple, landed.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(want_rows) == 9

def test_curation_stream_feeds_minhash_store(spark, tmp_path):
    """End-to-end incremental curation: the curation stream's output
    (quality filter + exact dedup) feeds minhash_ingest_stream, and
    probing the accumulated profile store finds exactly the near-dup
    pairs the batch pipeline finds on the same curated corpus — the
    former lambda split now runs per-document work fully in-stream."""
    from datetime import datetime

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
        dedup as dedup_ops,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        quality_score,
    )

    doc_schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    base = (
        "the cat sat on a mat and the dog ran in the park while a bird "
        "flew over the tall trees near a quiet lake in the warm morning sun"
    )
    near = base.replace("sun", "air")          # ~0.9 Jaccard near-dup of base
    other = (
        "distributed engines shuffle data between the executors during "
        "wide joins and the optimizer prunes columns to keep scans narrow"
    )
    junk = "!!! ??? ... ;;;"

    def mk(rows):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, 0, 0, s), i, t) for s, i, t in rows], doc_schema
        )

    batch1 = mk([(0, 0, base), (1, 1, other), (2, 2, junk)])
    batch2 = mk([(10, 3, near), (11, 4, base)])  # near-dup + exact dup of 0
    src = str(tmp_path / "cmh_src")
    import glob as _glob
    import os as _os

    base_mtime = time.time()
    for i, b in enumerate((batch1, batch2)):
        write_csv_batch(b, f"{src}/b{i}")
        for f in _glob.glob(f"{src}/b{i}/*"):
            _os.utime(f, (base_mtime + 10 * i, base_mtime + 10 * i))

    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", "1")
        .csv(f"{src}/b*")
    )
    curated = jobs.curation_stream(stream, watermark="10 minutes")
    store = str(tmp_path / "cmh_store")
    q = jobs.minhash_ingest_stream(
        curated, store, checkpoint_dir=str(tmp_path / "cmh_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    profiles = jobs.read_minhash_store(spark, store)
    streamed = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 12))
        for r in dedup_ops.minhash_lsh_pairs_from_profiles(
            profiles, threshold=0.8
        ).collect()
    )

    docs = batch1.unionByName(batch2)
    kept = quality_score(docs).filter(F.col("quality") >= 0.33)
    survivors = dedup_ops.exact_dedup(kept, ["text"], "doc_id").select("doc_id")
    curated_batch = kept.join(survivors, "doc_id").select("doc_id", "text")
    batch_pairs = sorted(
        (r.a_id, r.b_id, round(r.jaccard, 12))
        for r in dedup_ops.minhash_lsh_pairs(
            dedup_ops.word_shingles(curated_batch), threshold=0.8
        ).collect()
    )
    spark.catalog.clearCache()
    assert streamed == batch_pairs
    assert streamed == [(0, 3, streamed[0][2])]  # the seeded near-dup pair
    assert streamed[0][2] >= 0.8

def test_novelty_ingest_stream_matches_set_model(spark, tmp_path):
    """Tenth store on the batch_id contract: per-batch n-gram novelty.
    Audit rows must equal a python set-replay of the arriving batches,
    the shingle store must be the exact first-seen set (each shingle in
    exactly ONE batch partition — its first arrival), and the store's
    distinct shingles must equal the batch word_shingles of the union."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    parts = [
        docs.filter(F.col("doc_id") % 3 == i).select("doc_id", "text")
        for i in range(3)
    ]
    src = str(tmp_path / "nv_src")
    store = str(tmp_path / "nv_store")
    audit = str(tmp_path / "nv_audit")
    ckpt = str(tmp_path / "nv_ckpt")
    import glob as _glob
    import os as _os

    base_mtime = time.time()
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(f"{src}/b{i}")
        for f in _glob.glob(f"{src}/b{i}/*"):
            _os.utime(f, (base_mtime + 10 * i, base_mtime + 10 * i))

    stream = (
        spark.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.novelty_ingest_stream(stream, store, audit, ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r.batch_id, r.n_shingles, r.n_new, r.novelty)
        for r in jobs.read_novelty_audit(spark, audit).collect()
    ]
    # python set-replay model over the same arrival order
    seen: set = set()
    expect = []
    for i, p in enumerate(parts):
        sh = {r.shingle for r in word_shingles(p).select("shingle").distinct().collect()}
        new = sh - seen
        expect.append((i, len(sh), len(new), len(new) / len(sh)))
        seen |= new
    assert got == expect
    assert got[0][3] == 1.0 and got[1][3] < 1.0  # later batches overlap

    # store IS the exact first-seen set: one partition per shingle,
    # union equals the batch shingle vocabulary
    per_shingle = spark.read.parquet(store).groupBy("shingle").count()
    assert per_shingle.filter(F.col("count") > 1).count() == 0
    store_vocab = {r.shingle for r in per_shingle.select("shingle").collect()}
    assert store_vocab == seen


def test_novelty_ingest_checkpoint_restart(spark, tmp_path):
    """Kill the novelty ingest between batches and restart from the
    checkpoint: audit and store must come out identical to an
    uninterrupted run — the batch_id<N filter on the 'seen' read is what
    keeps a replayed batch from seeing its own crashed partial output."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "nvr_src")
    store = str(tmp_path / "nvr_store")
    audit = str(tmp_path / "nvr_audit")
    ckpt = str(tmp_path / "nvr_ckpt")

    def start():
        stream = (
            spark.readStream.schema(docs.select("doc_id", "text").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        return jobs.novelty_ingest_stream(stream, store, audit, ckpt).start()

    half1 = docs.filter(F.col("doc_id") < 250).select("doc_id", "text")
    half2 = docs.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    half1.coalesce(1).write.parquet(f"{src}/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    half2.coalesce(1).write.parquet(f"{src}/b1")
    # Simulate a CRASHED PARTIAL attempt of batch 1: its half-written
    # batch_id=1 partition already sits in the store when the restart
    # replays the batch. The seen-filter (batch_id < N, strictly) must
    # ignore it — a `<=` regression would count these shingles as seen
    # and land n_new too small; the overwrite then replaces the partial.
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        word_shingles as _ws,
    )

    _ws(half2).select("shingle").distinct().limit(20).write.mode(
        "overwrite"
    ).parquet(f"{store}/batch_id=1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r.batch_id, r.n_shingles, r.n_new)
        for r in jobs.read_novelty_audit(spark, audit).collect()
    ]
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        word_shingles,
    )

    s1 = {r.shingle for r in word_shingles(half1).select("shingle").distinct().collect()}
    s2 = {r.shingle for r in word_shingles(half2).select("shingle").distinct().collect()}
    assert got == [(0, len(s1), len(s1)), (1, len(s2), len(s2 - s1))]


def test_python_source_feeds_idempotent_store(spark, tmp_path):
    """Composition pin: the custom Python streaming source
    (sources/pysource.py, the broker-less producer stand-in) drains
    through THE ingest-store contract (streaming/jobs.ingest_store_stream)
    exactly like a Kafka leg would — every generated row lands exactly
    once across multiple micro-batches, and the store equals the batch
    read of the same source options."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        register_server_metrics,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming.jobs import (
        ingest_store_stream,
        read_ingest_store,
    )

    register_server_metrics(spark)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("server_metrics")
        .option("n_rows", 2500)
        .option("n_servers", 9)
        .option("batch_rows", 800)
        .load()
    )
    # NOT availableNow: that trigger snapshots latestOffset() ONCE, and
    # this source advances its offset incrementally per trigger (the
    # producer-like pacing under test) — drain it with processAllAvailable.
    q = ingest_store_stream(stream, store, ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = sorted(
        tuple(r) for r in read_ingest_store(spark, store).collect()
    )
    batch = sorted(
        tuple(r)
        for r in spark.read.format("server_metrics")
        .option("n_rows", 2500)
        .option("n_servers", 9)
        .load()
        .collect()
    )
    assert landed == batch
    n_batches = (
        spark.read.parquet(store).select("batch_id").distinct().count()
    )
    assert n_batches >= 2, n_batches


def test_bloom_ingest_stream_matches_batch(spark, tmp_path):
    """Bloom-filter streaming twin: per-micro-batch 1-row partials
    (key count + 64 bit_or words) merge WORD-FOR-WORD to the batch-built
    filter on the union input, for any micro-batch boundaries — count is
    a +-monoid and each word an |-monoid, so this holds exactly, not
    approximately. The store stays O(1) rows per batch."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        _bloom_hashes,
        bloom_build_aggs,
        bloom_finish,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    src = str(tmp_path / "bl_src")
    for i in range(3):
        cust.filter(F.col("c_custkey") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )

    store = str(tmp_path / "bl_store")
    stream = (
        spark.readStream.schema(cust.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/b*")
    )
    q = jobs.bloom_ingest_stream(
        stream, store, checkpoint_dir=str(tmp_path / "bl_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert spark.read.parquet(store).count() == 3  # one partial per batch

    b0, b1 = _bloom_hashes(F.col("c_custkey"))
    batch_filt = bloom_finish(
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(b0.alias("b0"), b1.alias("b1"))
        .agg(*bloom_build_aggs())
    )
    probed = jobs.probe_bloom_store(spark, store)
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in batch_filt.collect()
    ]


def test_bloom_ingest_checkpoint_restart(spark, tmp_path):
    """T4 for the bloom store: kill the ingest stream between
    micro-batches and restart from its checkpoint — no lost and no
    double-OR'd partials (idempotent batch_id=N store), so the accreted
    filter still equals the batch build word-for-word."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        _bloom_hashes,
        bloom_build_aggs,
        bloom_finish,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    src = str(tmp_path / "blr_src")
    store = str(tmp_path / "blr_store")
    ckpt = str(tmp_path / "blr_ckpt")

    def start():
        stream = (
            spark.readStream.schema(cust.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/b*")
        )
        return jobs.bloom_ingest_stream(stream, store, checkpoint_dir=ckpt).start()

    cust.filter(F.col("c_custkey") % 2 == 0).coalesce(1).write.parquet(f"{src}/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cust.filter(F.col("c_custkey") % 2 == 1).coalesce(1).write.parquet(f"{src}/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert spark.read.parquet(store).count() == 2
    b0, b1 = _bloom_hashes(F.col("c_custkey"))
    want = bloom_finish(
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(b0.alias("b0"), b1.alias("b1"))
        .agg(*bloom_build_aggs())
    )
    assert [tuple(r) for r in jobs.probe_bloom_store(spark, store).collect()] == [
        tuple(r) for r in want.collect()
    ]
