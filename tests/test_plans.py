"""Plan-shape regression tests: the 100 TB properties, pinned.

These assert what `.explain("formatted")` proves about the physical plans
— filters reaching the parquet scan, column pruning, broadcast vs shuffle
joins, no accidental nested loops. A change that keeps results correct
but, say, stops pushing the shipdate filter would pass the oracle tests
and still be a disaster at scale; it fails here instead.

Plans are inspected pre-execution (AdaptiveSparkPlan initial plan): cheap,
no job runs.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans import (
    plan_report,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
    all_queries,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reports(spark):
    qs = all_queries()

    def report(name):
        return plan_report(qs[name](spark, SF_DIR))

    return report


def test_filter_pushdown_reaches_scan(reports):
    r = reports("rel_pricing_summary")
    assert any("l_shipdate" in f for f in r["pushed_filters"]), r["pushed_filters"]


def test_partition_style_filter_pushdown(reports):
    r = reports("rel_range_join")
    # The dim filter (p_size = 50) must prune at the scan, not post-scan.
    assert any("EqualTo(p_size" in f for f in r["pushed_filters"]), r["pushed_filters"]


def test_column_pruning_lineitem(reports):
    r = reports("rel_pricing_summary")
    # 7 of lineitem's 11 columns are needed; the scan must not read the rest.
    assert set(r["read_schema_columns"]) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_column_pruning_documents(reports):
    r = reports("text_token_stats")
    assert set(r["read_schema_columns"]) == {"doc_id", "text"}


def test_dim_joins_broadcast(reports):
    # 5-way star join: every dim side must broadcast — only the
    # lineitem->orders join may shuffle.
    r = reports("rel_multiway_revenue")
    assert r["broadcast_joins"] >= 4, r
    assert r["nested_loop_joins"] == 0, r
    assert r["exchanges"] <= 1, r


def test_range_join_is_not_nested_loop(reports):
    # The whole point of bucketed_range_join: a BETWEEN join that does NOT
    # plan as BroadcastNestedLoopJoin.
    r = reports("rel_range_join")
    assert r["nested_loop_joins"] == 0, r


def test_topk_single_shuffle(reports):
    # Ranking window over o_custkey: exactly one exchange, no join.
    r = reports("rel_topk_per_group")
    assert r["exchanges"] == 1, r


def test_narrow_text_pipeline_no_shuffle(reports):
    # Pure per-row text analysis must be a single scan->project pipeline.
    r = reports("text_token_stats")
    assert r["exchanges"] == 0, r
    assert r["python_stages"] == 0, r


def test_ann_bruteforce_broadcasts_queries(reports):
    # Corpus side must NOT shuffle for scoring: the (tiny) query side is
    # broadcast into a nested-loop cross join — the intended shape.
    r = reports("sim_ann_bruteforce")
    assert r["nested_loop_joins"] >= 1, r
    assert r["exchanges"] <= 1, r  # only the ranking window shuffles


def test_exchange_counting_on_canned_plan():
    """Node-name matching must distinguish Exchange from BroadcastExchange
    and must not double-count the details-section headings."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        _exchange_node_ids,
    )

    canned = """
== Physical Plan ==
* HashAggregate (6)
+- Exchange (5)
   +- * HashAggregate (4)
      +- * BroadcastHashJoin Inner BuildRight (3)
         :- * ColumnarToRow (1)
         +- BroadcastExchange (2)

(2) BroadcastExchange
Input [2]: [n_nationkey, n_name]

(5) Exchange
Input [3]: [l_returnflag, sum, count]
Arguments: hashpartitioning(l_returnflag, 32)
"""
    # Tree lines use "Exchange (5)" form; detail headings "(5) Exchange".
    assert _exchange_node_ids(canned, "Exchange") == {"5"}
    assert _exchange_node_ids(canned, "BroadcastExchange") == {"2"}


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Landing the metric tables bucketed by the join key removes the
    monitoring join's shuffle entirely: the bucket-to-bucket join plans
    with ZERO exchanges (the 100 TB fix called out in
    operators/monitoring.py's scale notes)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        broadcast_exchange_count,
        shuffle_exchange_count,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        write_bucketed_table,
    )

    from .fixtures import metrics_wide_df, narrow_splits

    wide = metrics_wide_df(spark)
    cpu, mem, _, _ = narrow_splits(wide)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        for name, df in [("b_cpu", cpu), ("b_mem", mem)]:
            write_bucketed_table(
                df, name, ["ts", "server_id"], n_buckets=8,
                sort_cols=["ts", "server_id"], path=str(tmp_path / name),
            )
        joined = spark.table("b_cpu").join(
            spark.table("b_mem"), on=["ts", "server_id"], how="inner"
        )
        assert shuffle_exchange_count(joined) == 0, "bucketed join must not shuffle"
        assert broadcast_exchange_count(joined) == 0
        assert joined.count() == cpu.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS b_cpu")
        spark.sql("DROP TABLE IF EXISTS b_mem")


@pytest.mark.parametrize("job", ["cpu_mem", "net_disk"])
def test_bucketed_flagship_job_no_exchange(spark, job):
    """The FULL flagship jobs (join + sliding-window agg + CASE +
    projection) over the bucketed landing plan with zero exchanges of
    any kind: hash(user_id) bucketing satisfies both the join's
    (ts, user_id) and the agg's (user_id, window) clustering, so the
    per-query shuffles become a one-time landing cost."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        broadcast_exchange_count,
        shuffle_exchange_count,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        monitoring as monq,
    )

    plain, bucketed = {
        "cpu_mem": (monq.monitor_cpu_mem_alerts, monq.monitor_cpu_mem_alerts_bucketed),
        "net_disk": (monq.monitor_net_disk_alerts, monq.monitor_net_disk_alerts_bucketed),
    }[job]
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        df = bucketed(spark, SF_DIR)
        assert shuffle_exchange_count(df) == 0, "bucketed flagship must not shuffle"
        assert broadcast_exchange_count(df) == 0
        got = sorted(tuple(r) for r in df.collect())
        want = sorted(tuple(r) for r in plain(spark, SF_DIR).collect())
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_bucketed_landing_amortized(spark, monkeypatch):
    """Re-invoking a bucketed flagship must NOT re-land the bucketed
    tables: the first call per (process, sf, table) pays the write, every
    later call is read-only against the session catalog."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
        readers,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        monitoring as monq,
    )

    calls = []
    real = readers.write_bucketed_table

    def counting(df, table_name, *args, **kwargs):
        calls.append(table_name)
        return real(df, table_name, *args, **kwargs)

    monkeypatch.setattr(readers, "write_bucketed_table", counting)
    # First call: lands at most once per table (zero if an earlier test in
    # this session already landed them — amortization working as designed).
    monq.monitor_cpu_mem_alerts_bucketed(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    after_first = len(calls)
    assert after_first <= 2
    # Second call: strictly no new landing writes.
    monq.monitor_cpu_mem_alerts_bucketed(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    assert len(calls) == after_first, calls


def test_bucketed_landing_distinct_dirs_same_basename(spark, monkeypatch, tmp_path):
    """Two sf_dirs that share a basename must land as DISTINCT tables —
    the amortization cache keys on the full path, not the basename."""
    import shutil

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
        readers,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        monitoring as monq,
    )

    for parent in ("runA", "runB"):
        (tmp_path / parent / "sfX").mkdir(parents=True)
        shutil.copy(
            f"{SF_DIR}/events.parquet", tmp_path / parent / "sfX" / "events.parquet"
        )

    tables = []
    real = readers.write_bucketed_table

    def counting(df, table_name, *args, **kwargs):
        tables.append(table_name)
        return real(df, table_name, *args, **kwargs)

    monkeypatch.setattr(readers, "write_bucketed_table", counting)
    monq.monitor_cpu_mem_alerts_bucketed(spark, str(tmp_path / "runA" / "sfX"))
    monq.monitor_cpu_mem_alerts_bucketed(spark, str(tmp_path / "runB" / "sfX"))
    # each dir lands its own cpu+mem pair under a path-specific tag
    assert len(tables) == 4 and len(set(tables)) == 4, tables


def test_bucketed_landing_removed_at_exit(tmp_path):
    """A process that lands the bucketed layout leaves nothing behind once
    it exits: the landed tables live under one temporary directory per
    process, removed at exit."""
    script = (
        "import glob, os, tempfile\n"
        "from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark"
        ".session import get_spark\n"
        "from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark"
        ".queries.monitoring import monitor_cpu_mem_alerts_bucketed\n"
        f"monitor_cpu_mem_alerts_bucketed(get_spark('rtsm-landing', cpus=1), {SF_DIR!r}).count()\n"
        "pattern = f'rtsm_bucketed_{os.getpid()}*'\n"
        "landed = glob.glob(os.path.join(tempfile.gettempdir(), pattern))"
        " + glob.glob(os.path.join('/tmp', pattern))\n"
        "print(os.getpid(), len(landed))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": root,
        "TMPDIR": str(tmp_path),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    pid, n_landed = out.stdout.split()[-2:]
    assert int(n_landed) == 1  # the landing existed while the process ran
    pattern = f"rtsm_bucketed_{pid}*"
    assert glob.glob(os.path.join(tmp_path, pattern)) == []
    assert glob.glob(os.path.join("/tmp", pattern)) == []


def test_curation_pipeline_no_nested_loops(reports):
    """The composite pipeline stays inverted-index + anti-join all the way:
    no cartesian products or nested-loop joins anywhere in the plan."""
    r = reports("pipeline_corpus_curation")
    assert r["nested_loop_joins"] == 0, r
    assert r["python_stages"] == 0, "curation pipeline must stay JVM-side"


def test_embedding_lsh_no_cartesian(reports):
    """LSH candidates come from a bucket equi-join; only the numpy-dot
    prefilter runs in Python (one Arrow stage)."""
    r = reports("dedup_embedding_lsh")
    assert r["nested_loop_joins"] == 0, r


def test_hash_split_single_shuffle_narrow_scan(reports):
    """Corpus split: one agg shuffle; scan reads only doc_id + text."""
    r = reports("text_hash_split")
    assert r["exchanges"] <= 1, r
    assert set(r["read_schema_columns"]) <= {"doc_id", "text"}, r


# Queries that are cross-products BY DESIGN and opt out of the
# nested-loop check in the registry-wide guard sweep below.
INTENTIONAL_NESTED_LOOP = {
    "sim_ann_bruteforce",   # broadcast-query exact baseline
    "sim_ann_recall",       # contains the brute-force leg as its ground truth
    "sim_matryoshka_recall",  # two exact brute-force legs (full + truncated)
    "sim_ann_quantized",    # same shape on int8 vectors
    "dedup_embedding_cosine",  # blocked all-pairs oracle anchor
    "rel_cross_join",       # the cross-join surface query itself
    "text_tfidf",           # 1-row n_docs scalar broadcast (standard)
    "text_unigram_logprob",  # 1-row n_total scalar broadcast (same)
    "text_pmi_bigrams",     # 1-row corpus-totals scalar broadcast (same)
    "text_bpe_train",       # 3x 1-row argmax-pair scalar broadcast (same)
    "text_bpe_encode",      # same 3 argmax broadcasts (shared merge loop)
    "text_mixture_sample",  # 1-row N* budget scalar broadcast (same)
    "rel_hll_daily_users",  # 1-row exact-ALL scalar broadcast (r10 accuracy report)
    "sim_top_pc",           # 3x 1-row iterate-vector broadcast (same)
    # r09 additions
    "sim_ann_ivfpq_recall",  # contains the brute-force leg as ground truth
    "text_dsir_sample",     # 1-row smoothing-constants scalar broadcast
    "rel_bloom_semi_join",  # 1-row bloom-filter broadcast (the runtime filter itself)
    "dedup_minhash_recall",  # 1-row n_lsh_pairs scalar broadcast
    "rel_join_size_estimate",  # 3x 1-row count/verification scalar broadcasts
    "monitor_trace_knn",    # 5-row probe-profile broadcast (bounded query set)
    # r11
    "sim_mmr_rerank",       # exact candidate fetch = the brute-force anchor;
                            # production composes the rerank onto the ANN tier
    # r13
    "sim_mmr_arrow",        # applyInArrow twin of sim_mmr_rerank — same
                            # exact candidate-fetch anchor, same adjudication
}

# Exact Exchange-node count of every registry query's initial physical
# plan at sf0.001 (census r07). The registry-wide guard sweep pins these:
# a new shuffle creeping into ANY of the 142 queries fails loudly here,
# not just the ~40 with bespoke plan pins above. A count going DOWN also
# fails — that's an improvement; re-census and update the pin. Counts are
# deterministic at fixed SF + Spark version (AQE's runtime coalescing
# happens below the Exchange node and doesn't change node counts).
EXCHANGE_CENSUS = {
    "dedup_clusters": 0, "dedup_containment": 5, "dedup_cross_corpus": 4,
    "dedup_embedding_clusters": 0, "dedup_embedding_cosine": 2,
    # dedup_embedding_lsh: 1 agg exchange + the parallelize_if_narrow
    # respread cosine_pairs_lsh adds on single-file inputs (a no-op —
    # and no exchange — once the corpus has >= cores files).
    # dedup_embedding_lsh 2 -> 3 (r15): the narrow-scan respread moved
    # ABOVE the a/b candidate split so both join-side subtrees
    # canonicalize equal — the initial plan shows one more static
    # exchange, but at runtime AQE ReusedExchange dedups the pair and
    # the hyperplane-tag Arrow stage runs ONCE instead of twice.
    "dedup_embedding_lsh": 3, "dedup_exact": 1, "dedup_minhash_lsh": 4,
    # dedup_simhash stays on id-level banding (group_signatures=False):
    # md5 SimHash is high-entropy (distinct sigs ~ N), where grouped
    # banding measured ~3x SLOWER — the r12 regime split in
    # hamming64_pairs; only the saturating a-hash family groups.
    "dedup_ngram_jaccard": 6, "dedup_semdedup": 5, "dedup_simhash": 2,
    "mm_audio_rms": 0,
    "mm_audio_silence_trim": 1, "mm_binary_meta": 0, "mm_decode_features": 0,
    "mm_frame_sample": 0, "mm_image_ahash": 2, "mm_image_dedup_clusters": 0,
    "mm_resize": 0, "mm_scene_segments": 1, "monitor_alert_transitions": 2,
    "monitor_anomaly_zscore": 1, "monitor_case_classify": 0,
    "monitor_cpu_mem_alerts": 1, "monitor_cpu_mem_alerts_bucketed": 0,
    "monitor_cusum_shift": 1, "monitor_drift_psi": 2, "monitor_error_after_click": 0,
    "monitor_ewma_level": 1, "monitor_filter_range": 0, "monitor_funnel": 4,
    "monitor_gap_report": 2, "monitor_heavy_hitters": 1, "monitor_mttr": 2,
    "monitor_net_disk_alerts": 1, "monitor_net_disk_alerts_bucketed": 0,
    "monitor_project_cast": 0, "monitor_rate_spike": 1, "monitor_seasonal_baseline": 1,
    "monitor_window_distinct_users": 2,
    "monitor_resample_locf": 2, "monitor_rollup_cascade": 2,
    "monitor_session_window": 1, "monitor_sessionize": 1,
    "monitor_sla_burn": 2, "monitor_top_movers": 2,
    "monitor_window_sliding_avg": 1, "monitor_window_tumbling": 1,
    # pipeline_training_prep: 43 -> 23 when the scored/deduped stages
    # became persist()-ed (the duplicate upstream subtrees left the plan).
    # The *_clusters / pipeline_{embedding,multimodal}_prep counts are the
    # post-connected-components-small-graph-fast-path plans: at sf0.001
    # the edge pipeline executes eagerly during query construction, so
    # the inspected plan is the final broadcast label join only.
    "pipeline_corpus_curation": 13, "pipeline_embedding_prep": 1,
    "pipeline_multimodal_prep": 5, "pipeline_training_prep": 19,
    "rel_agg_stats": 1, "rel_approx_distinct": 2, "rel_approx_percentile": 1,
    "rel_array_funcs": 0, "rel_asof_join": 2, "rel_benford_check": 2,
    "rel_cascade_delete": 3, "rel_cdc_merge": 1, "rel_cohort_retention": 3,
    "rel_conditional_funcs": 0, "rel_corr_matrix": 1, "rel_count_distinct": 2,
    "rel_cross_join": 0, "rel_cube": 1, "rel_date_funcs": 0,
    "rel_decile_lift": 2, "rel_disjunctive_filter": 1, "rel_distinct": 1,
    "rel_fuzzy_join": 1, "rel_grouping_sets": 1, "rel_having": 1,
    "rel_hll_daily_users": 5, "rel_join_anti": 0,
    "rel_join_customer_orders": 1, "rel_join_full_outer": 2,
    "rel_mad_outliers": 4, "rel_merge_into": 2,
    "rel_join_left_outer": 1, "rel_join_semi": 0, "rel_json_funcs": 0,
    "rel_key_skew_stats": 3, "rel_map_funcs": 0, "rel_math_funcs": 0,
    "rel_merge_intervals": 1, "rel_mode_per_group": 2, "rel_mom_growth": 2,
    "rel_multiway_revenue": 1, "rel_orderby_limit": 0,
    "rel_pagerank_coparts": 14, "rel_percentile": 1, "rel_pit_features": 4,
    "rel_pivot": 2, "rel_pricing_summary": 1, "rel_profile_columns": 3,
    "rel_range_join": 1, "rel_rollup": 1, "rel_salted_count_distinct": 2,
    "rel_salted_join": 1, "rel_scd2_asof_lookup": 2, "rel_scd2_intervals": 1,
    "rel_set_ops": 2, "rel_skyline": 2, "rel_snapshot_diff": 4,
    "rel_sql_subqueries": 1,
    "rel_string_funcs": 0, "rel_time_range_frame": 1, "rel_topk_per_group": 1,
    "rel_triangle_count": 11, "rel_unpivot": 0, "rel_validate_constraints": 8,
    "rel_variant_extract": 2,
    "rel_window_frames": 1, "rel_window_running": 1, "rel_winsorize": 2,
    "sim_ann_bruteforce": 1, "sim_ann_filtered": 2,
    "sim_source_centroid_outliers": 2, "sim_ann_recall": 3, "sim_embedding_drift": 1, "sim_ann_ivf": 1, "sim_ann_ivfpq": 1,
    "sim_cosine_noise_floor": 2,
    "sim_ann_lsh": 2, "sim_ann_quantized": 1, "sim_kmeans_iter": 1,
    "sim_matryoshka_recall": 2, "sim_top_pc": 3,
    # r09 additions
    "sim_ann_ivfpq_recall": 2, "text_dsir_sample": 6, "rel_bloom_semi_join": 3,
    "dedup_minhash_recall": 16, "rel_join_size_estimate": 6,
    "monitor_trace_knn": 5,
    # r11 additions
    "text_chunk_udtf": 0,
    "text_weighted_reservoir": 0,
    "sim_coreset_kcenter": 1,
    # sim_mmr_rerank 1 -> 2 (r16, VERDICT r15 #7): the numpy pre-rank
    # shortlist splits the single cv-laden ranking exchange into (a) a
    # NARROW (cand_id, query_id, alat) approx-rank exchange — 24 bytes/
    # row instead of the 64-double vector payload — and (b) the greedy
    # tail's exchange over the <= 2*n_candidates surviving rows per
    # query, now the only rows that carry cv or pay the exact fold.
    # One more Exchange NODE, ~24x fewer corpus-row bytes shuffled.
    "sim_mmr_rerank": 2,
    # r12 additions
    "sim_mmr_ann": 2,
    "mm_ahash_arrow": 0,
    # theta-sketch: the distinct-key agg (1 shuffle feeding the persisted
    # flag table) + the 4-row est/exact broadcast-join assembly
    "rel_theta_sketch_setops": 2,
    # r13 additions
    # 1 -> 2 r16: same numpy-shortlist split as sim_mmr_rerank above
    "sim_mmr_arrow": 2,
    # url dedup: the canonicalizer is a codegen'd per-row map; the two
    # exchanges are the dedup groupBy's partial/final split around the
    # countDistinct(raw_url) expand
    "text_url_dedup": 2,
    # sketch rollup: 1 corpus-width distinct-key shuffle feeding the
    # persisted hash table; the rest are bounded k-row-heap windows and
    # tiny per-level agg exchanges over union branches (3 levels × est
    # window/agg + exact legs; the leaf exact leg rides the already-
    # distinct hash table with no re-distinct)
    "rel_sketch_rollup": 10,
    # r14 additions
    # langid gate -> gopher battery: BOTH stages are stateless per-row
    # array expressions — the whole composite rides the scan (the plan
    # report also shows IsNotNull(text) pushed and a 3-column ReadSchema)
    # text_langid_gate 0 -> 1 (r16): the narrow-scan respread
    # (parallelize_if_narrow) parallelizes the per-token hashing that a
    # one-file LOCAL input would otherwise funnel through a single task;
    # at any real scale (>= cores input files) it is a no-op and the
    # plan is back to zero exchanges. Weather-gated A/B: 1.72 -> 1.52 s.
    "text_langid_gate": 1,
    # observe instrumentation: the corpus-width observed scan runs
    # INSIDE the builder (observe's metric values exist only after one
    # action); the returned frame is the bounded O(statuses+metrics)
    # local report, so its plan is exchange-free by construction
    "rel_observe_metrics": 0,
    # profile drift: two profile_table passes (stats agg + distinct agg
    # per snapshot, each a 1-row wide aggregate = 4 single-partition
    # exchanges + 2 more in the multi-distinct Expand path), combined by
    # bounded 9x9 broadcast joins; each snapshot's date filter is pushed
    # into its own scan (the partition-pruning shape at scale)
    "rel_profile_drift": 6,
    # r15 additions
    # streaming dedup-store recheck: the stream + store probe run INSIDE
    # the builder (the numbers exist only after the stream completes);
    # the returned frame is the bounded 1-row local report. The REAL
    # probe plan is guarded in tests/test_streaming_stores.py (the
    # ADVICE r14 #3 pattern).
    "dedup_stream_store_recheck": 0,
    # entity resolution: the blocked fuzzy pair pipeline executes
    # eagerly during construction (connected_components small-graph
    # fast path at sf0.001), leaving the broadcast label join + the one
    # survivorship hash agg in the inspected plan
    "rel_entity_resolution": 1,
    "sim_knn_join": 3, "text_bigram_logprob": 2, "text_bpe_pair_counts": 1,
    # text_bpe_train 4 -> 8 / text_bpe_encode 6 -> 3 (r16, VERDICT r15
    # #6): the merge chain's per-step word state is localCheckpoint()-ed
    # instead of persist()-ed, so the REGISTRY-VISIBLE static plan
    # changes shape without changing what executes: encode's plan now
    # roots at the checkpointed vocabulary (3 exchanges: the doc_words
    # agg + encode join; the merge-step exchanges ran eagerly at
    # construction), while train's three step rows each count their own
    # agg/argmax legs over checkpointed leaves instead of sharing one
    # cached lineage (8 static exchanges, each over a bounded
    # vocabulary-sized RDD leaf). Interleaved A/B: total (construct +
    # execute, which bench times) 2.5 -> 2.2 s, bit-identical rows.
    "text_bpe_train": 8, "text_bpe_encode": 3, "text_mixture_sample": 4,
    "rel_recursive_cte": 2, "rel_lateral_topk": 1, "monitor_synthetic_source": 1,
    "rel_order_count_histogram": 3,
    "text_char_entropy": 2, "text_chunking": 0, "text_decontaminate": 2,
    "text_dup_spans": 2, "text_fingerprint": 0, "text_fixed_n_per_lang": 1,
    "text_gopher_rules": 0, "text_hapax_ratio": 2,
    "text_hash_split": 1, "text_langid": 0, "text_langid_confusion": 2,
    "text_length_percentiles": 1, "text_ngram_novelty": 2,
    "text_pii_redact": 0, "text_pmi_bigrams": 4,
    "text_prefix_dup": 1, "text_quality_score": 0, "text_repetition": 0,
    "text_quality_classifier": 1, "text_bootstrap_stats": 1,
    "text_sequence_packing": 3, "text_shuffle_order": 3,
    "text_source_quality_filter": 1, "text_stratified_sample": 1,
    "text_stratified_sample_salted": 1, "text_tfidf": 4,
    "text_token_fertility": 1, "text_token_stats": 0,
    "text_unigram_logprob": 3, "text_vocab_topk": 1,
    "text_weighted_sample": 0, "text_zipf_slope": 1,
}


# Per-query ArrowEvalPython/MapInPandas stage counts (census r07). Every
# query NOT listed here is fully JVM-side (whole-stage-codegen territory)
# and must STAY that way — a Python stage appearing in one is the classic
# silent 10-100x regression ("UDFs are the slow path"). The listed ones
# are the justified Arrow-vectorized legs: LSH bucket matmuls, multimodal
# decode plumbing, SpaceSaving partials, the numpy cosine prefilter.
PYTHON_STAGE_CENSUS = {
    "dedup_embedding_cosine": 2, "dedup_embedding_lsh": 6,
    "dedup_semdedup": 2,
    "mm_audio_rms": 2, "mm_audio_silence_trim": 2, "mm_decode_features": 2,
    # mm_image_ahash 4 -> 5 (r12): hamming64_pairs persists the signature
    # input; the cached MapInPandas subtree renders once in-memory plus
    # the two expansion-side references
    "mm_frame_sample": 2, "mm_image_ahash": 5, "mm_resize": 2,
    "mm_scene_segments": 4, "monitor_heavy_hitters": 2,
    "pipeline_multimodal_prep": 6, "sim_ann_ivf": 6, "sim_ann_ivfpq": 6,
    # sim_knn_join 2 -> 4 and monitor_alert_transitions 0 -> 2 under the
    # r11 census-regex fix: their applyInPandas (FlatMapGroupsInPandas)
    # stages — the knn hot-bucket block matmul, the debounce batch twin —
    # were invisible to the census before. No plan change; the CENSUS saw
    # more, and 0-pinned queries are now proven free of applyInPandas too.
    "sim_ann_lsh": 4, "sim_ann_filtered": 4, "sim_ann_recall": 4, "sim_knn_join": 4,
    "monitor_alert_transitions": 2,
    "sim_ann_ivfpq_recall": 6,
    # r11: the Spark 4 arrow-optimized Python UDTF surface — one
    # ArrowEvalPythonUDTF node (tree + details = 2 matches), deliberate
    "text_chunk_udtf": 2,
    # r11: MMR greedy over bounded per-query candidate groups — one
    # FlatMapGroupsInPandas node (counted since the r11 census-regex fix:
    # applyInPandas stages were previously INVISIBLE to the census).
    # 2 -> 4 r16: + one MapInArrow node (tree + details = 2 matches),
    # the numpy pre-rank shortlist pass (VERDICT r15 #7)
    "sim_mmr_rerank": 4,
    # r12: MMR on the LSH candidate tier — the two Arrow bucket-matmul
    # legs (query + corpus side, the sim_ann_lsh shape) plus the same
    # bounded greedy FlatMapGroupsInPandas tail
    "sim_mmr_ann": 6,
    # r12: the raw-Arrow map surface — one MapInArrow node (tree +
    # details = 2 matches), deliberate; mapInPandas twin is production
    "mm_ahash_arrow": 2,
    # r13: the raw-Arrow GROUPED surface — one FlatMapGroupsInArrow node
    # (tree + details = 2 matches), the last census-visible Python-stage
    # node to be exercised (SURVEY §5.10a); applyInPandas twin
    # (sim_mmr_rerank) stays production.
    # 2 -> 4 r16: + the shared numpy-shortlist MapInArrow pass
    "sim_mmr_arrow": 4,
}


def test_exchange_census_covers_registry():
    assert set(EXCHANGE_CENSUS) == set(all_queries()), (
        "EXCHANGE_CENSUS out of sync with the registry — re-census "
        "(plan_report at sf0.001) for added/removed queries"
    )


@pytest.mark.parametrize("name", sorted(EXCHANGE_CENSUS))
def test_registry_query_is_scale_safe(spark, name):
    """Registry-wide guard sweep (VERDICT r06 #7): every query's plan
    passes the SHIPPED plans.guard.assert_scale_safe — no nested loops
    (minus the documented brute-force anchors) and exactly the censused
    Exchange count. Catches a plan regression in ANY of the 142 queries,
    not just the ones with bespoke pins above."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
        assert_scale_safe,
    )

    df = all_queries()[name](spark, SF_DIR)
    report = assert_scale_safe(
        df,
        allow_nested_loop=name in INTENTIONAL_NESTED_LOOP,
        max_exchanges=EXCHANGE_CENSUS[name],
    )
    assert report["exchanges"] == EXCHANGE_CENSUS[name], (
        f"{name}: {report['exchanges']} exchanges, census pins "
        f"{EXCHANGE_CENSUS[name]} — fewer is an improvement, update the pin"
    )
    assert report["python_stages"] == PYTHON_STAGE_CENSUS.get(name, 0), (
        f"{name}: {report['python_stages']} Python stages, census pins "
        f"{PYTHON_STAGE_CENSUS.get(name, 0)} — a Python stage creeping into "
        "a JVM-side query is the classic silent 10-100x regression"
    )


def test_parallelize_if_narrow_handles_non_file_sources(spark):
    """ADVICE r02: inputFiles() is empty for non-file-backed DataFrames;
    the helper must fall back to the partition-count check instead of
    silently skipping the min-parallelism repartition."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
        parallelize_if_narrow,
    )

    target = spark.sparkContext.defaultParallelism
    skinny = spark.createDataFrame([(i,) for i in range(10)], "id long").coalesce(1)
    assert skinny.inputFiles() == []
    widened = parallelize_if_narrow(skinny)
    assert widened.rdd.getNumPartitions() == target

    # already-parallel memory source: left alone (no extra shuffle)
    wide = spark.createDataFrame([(i,) for i in range(10)], "id long").repartition(
        target
    )
    assert parallelize_if_narrow(wide).rdd.getNumPartitions() == target


def test_parallelize_if_narrow_streaming_passthrough(spark):
    """VERDICT r03 #4: a streaming DataFrame has no .rdd/.inputFiles();
    the helper must pass it through instead of raising."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
        parallelize_if_narrow,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    assert stream.isStreaming
    out = parallelize_if_narrow(stream)
    assert out is stream


def test_cdc_merge_single_exchange(reports):
    """rel_cdc_merge is ONE hash aggregation: partial max_by map-side,
    one exchange on user_id, final agg — no window sort anywhere."""
    r = reports("rel_cdc_merge")
    assert r["exchanges"] == 1, r
    assert r["sort_merge_joins"] == 0 and r["nested_loop_joins"] == 0


def test_cdc_merge_partial_aggregation(spark):
    """The map-side combine claim, pinned on the plan text: a key with a
    million updates must reduce to one candidate per task BEFORE the
    exchange (`partial_max_by` below the shuffle), or skew on a hot key
    becomes a straggler at scale."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(all_queries()["rel_cdc_merge"](spark, SF_DIR))
    assert "partial_max_by" in plan


def test_scd2_reuses_one_partitioning(reports):
    """rel_scd2_intervals: lag/run-sum windows, the run aggregate, and the
    lead window all cluster on user_id; HashPartitioning(user_id)
    satisfies every downstream ClusteredDistribution, so the whole build
    is ONE exchange."""
    r = reports("rel_scd2_intervals")
    assert r["exchanges"] == 1, r


def test_fuzzy_join_is_equi_join(reports):
    """fuzzy_self_join must plan the candidate match as a hash/sort-merge
    equi-join on the deletion key — never a cartesian verify."""
    r = reports("rel_fuzzy_join")
    assert r["nested_loop_joins"] == 0, r
    assert r["sort_merge_joins"] + r["broadcast_joins"] >= 1, r


def test_drift_psi_scan_counts_once(reports):
    """monitor_drift_psi histograms both periods in one conditional-agg
    pass: one exchange for the 10-bucket agg + the two trivial 10-row
    window exchanges; crucially no self-join of events (which would scan
    twice and shuffle the fact)."""
    r = reports("monitor_drift_psi")
    assert r["sort_merge_joins"] == 0 and r["nested_loop_joins"] == 0, r
    assert r["exchanges"] <= 3, r


def test_runtime_bloom_filter_join(spark, tmp_path):
    """Runtime-filter posture: with a selective dim filter, the engine
    injects a bloom `might_contain` predicate into the fact scan so the
    shuffle only carries surviving rows. Default size thresholds target
    10 GB+ scans (a 100 TB cluster trips them naturally); the test lowers
    them to demonstrate the mechanism on sandbox data."""
    fact_path = str(tmp_path / "fact")
    spark.range(0, 50_000).selectExpr(
        "id % 1000 AS k", "id AS v"
    ).write.parquet(fact_path)
    dim_path = str(tmp_path / "dim")
    spark.range(0, 1000).selectExpr(
        "id AS k", "id % 7 AS tag"
    ).write.parquet(dim_path)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join so the filter matters
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter("tag = 3")
        joined = fact.join(dim, "k")
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
            formatted_plan,
        )
        plan = formatted_plan(joined)
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, tmp_path):
    """Partition-pruning posture: a fact table partitioned on the join key
    + a selective broadcastable dim => the fact scan carries a
    dynamicpruning subquery, so only matching partitions are read. This
    is THE mechanism that turns a 100 TB date-partitioned scan into a
    few-partition read when joined to a filtered dim."""
    fact_path = str(tmp_path / "fact_part")
    spark.range(0, 20_000).selectExpr(
        "id % 20 AS part_k", "id AS v"
    ).write.partitionBy("part_k").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(0, 20).selectExpr("id AS part_k", "id % 5 AS tag").filter(
        "tag = 2"
    )
    joined = fact.join(dim, "part_k")
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_winsorize_broadcasts_bounds(reports):
    """rel_winsorize: the per-group percentile table must broadcast back
    onto the fact (one row per event_type — the fact never shuffles for
    the join); the only exchanges are the two aggregations'."""
    r = reports("rel_winsorize")
    assert r["broadcast_joins"] >= 1, r
    assert r["sort_merge_joins"] == 0 and r["nested_loop_joins"] == 0, r


def test_interval_join_is_bucketed_equi_join(reports):
    """monitor_error_after_click joins on (user_id, window-bucket) — a
    hash/sort-merge EQUI join, never a per-key nested loop; the exact
    range predicate is a post-join filter."""
    r = reports("monitor_error_after_click")
    assert r["nested_loop_joins"] == 0, r


def test_profile_split_passes_shapes(spark):
    """rel_profile_columns = two wide aggregates: the stats pass must
    stay OFF the Expand (codegen'd DeclarativeAggregates only); exactly
    one Expand total (the multi-distinct pass). Fusing them is the
    13s-vs-2s regression this pins against."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(all_queries()["rel_profile_columns"](spark, SF_DIR))
    assert plan.count("Expand (") == 1, plan.count("Expand (")
    # Both passes scan the file directly; no ObjectHashAggregate fallback.
    assert "ObjectHashAggregate" not in plan


def test_knn_join_no_cartesian(reports):
    """sim_knn_join candidates come from the LSH bucket equi-join; a
    cartesian/broadcast-nested-loop formulation would be the O(N^2)
    explosion the operator exists to avoid."""
    r = reports("sim_knn_join")
    assert r["nested_loop_joins"] == 0, r


def test_sessionize_sorts_within_user_partitions_only(spark):
    """monitor_sessionize's window sorts must be partitioned by user_id —
    a global (empty-partition-spec) window sort would serialize the whole
    table through one task."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(all_queries()["monitor_sessionize"](spark, SF_DIR))
    import re

    for m in re.finditer(r"Window \[", plan):
        window_line = plan[m.start() : plan.index("\n", m.start())]
        assert "partitionby user_id" in window_line.lower().replace("'", ""), window_line


def test_pagerank_iterations_reuse_cached_edges(spark):
    """rel_pagerank_coparts persists the edge⋈outdeg table: all five
    iterations must read the InMemoryRelation, not recompute the order
    self-join five times."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(all_queries()["rel_pagerank_coparts"](spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 5, plan.count("InMemoryTableScan")
    spark.catalog.clearCache()


def test_bench_headliners_are_registered():
    """Every bench.py HEADLINE name must resolve in the query registry —
    a rename that orphans a headliner should fail here, not in the
    driver's bench run."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    assert bench.HEADLINE[: len(bench.LEGACY9)] == bench.LEGACY9


def test_kmeans_iter_is_pure_scan(reports):
    """sim_kmeans_iter must plan with ZERO joins and zero Python stages —
    the centroid matrix is plan literals, so the whole assignment step is
    a codegen scan plus one tiny hash agg (the 100 TB posture)."""
    r = reports("sim_kmeans_iter")
    assert r["broadcast_joins"] + r["sort_merge_joins"] + r["nested_loop_joins"] == 0
    assert r["python_stages"] == 0
    assert r["exchanges"] == 1, r  # the single 8-group agg exchange


def test_merge_intervals_single_exchange(reports):
    """rel_merge_intervals: both gaps-and-islands windows and the final
    agg cluster on o_custkey — one shuffle, not three."""
    r = reports("rel_merge_intervals")
    assert r["exchanges"] == 1, r
    assert r["python_stages"] == 0


def test_top_movers_uses_ordered_limit(spark):
    """monitor_top_movers' global top-100 must plan as
    TakeOrderedAndProject (per-partition heaps + driver merge), never a
    global Sort of the daily table."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    df = all_queries()["monitor_top_movers"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_skyline_broadcasts_frontier(reports):
    """rel_skyline must NOT plan the all-pairs dominance join: the
    frontier (<=50 rows) broadcasts back onto the scan, and the raw part
    table is never shuffled (only the tiny per-size agg exchanges)."""
    r = reports("rel_skyline")
    assert r["broadcast_joins"] >= 1, r
    assert r["sort_merge_joins"] == 0 and r["nested_loop_joins"] == 0, r
    assert set(r["read_schema_columns"]) == {"p_partkey", "p_size", "p_retailprice"}


def test_corr_matrix_single_pass(reports):
    """rel_corr_matrix: all ten moments in ONE aggregation over ONE scan
    — no joins, no per-pair passes, nothing Python."""
    r = reports("rel_corr_matrix")
    assert r["broadcast_joins"] + r["sort_merge_joins"] + r["nested_loop_joins"] == 0
    assert r["python_stages"] == 0
    assert set(r["read_schema_columns"]) == {
        "l_quantity", "l_extendedprice", "l_discount",
    }


def test_decile_lift_never_sorts_raw_orders(spark):
    """rel_decile_lift must keep the global Sort on the TINY bucket
    histogram (window input), never on the raw orders scan — the whole
    point of the two-pass histogram formulation vs a global NTILE."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    import re

    df = all_queries()["rel_decile_lift"](spark, SF_DIR)
    plan = formatted_plan(df)
    # The raw orders table contributes only scan + hash agg; any Sort in
    # the plan operates on the tiny bucket histogram. Assert it: no Sort
    # node's full detail block (through its next node header) mentions a
    # raw orders column.
    for m in re.finditer(r"\(\d+\) Sort\b.*?(?=\n\(\d+\) |\Z)", plan, flags=re.S):
        assert "o_totalprice" not in m.group(0), m.group(0)
        assert "o_orderstatus" not in m.group(0), m.group(0)


def test_bpe_pair_counts_uses_ordered_limit(spark):
    """text_bpe_pair_counts' top-50 must be TakeOrderedAndProject, and
    the pair construction must stay scan-local (no join/window below the
    count agg)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    df = all_queries()["text_bpe_pair_counts"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_pmi_bigrams_broadcasts_vocab(reports):
    """text_pmi_bigrams: both unigram-count joins and the scalar-totals
    join must broadcast — the bigram table is the only shuffled side."""
    r = reports("text_pmi_bigrams")
    assert r["broadcast_joins"] >= 2, r
    assert r["sort_merge_joins"] == 0, r


def test_sla_burn_one_scan(spark, reports):
    """monitor_sla_burn: ONE events scan feeding one hash agg chain; the
    6h totals are a window over the tiny hourly table, never a second
    aggregation branch (Spark plans that as a second full scan)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    r = reports("monitor_sla_burn")
    assert r["broadcast_joins"] + r["sort_merge_joins"] + r["nested_loop_joins"] == 0, r
    assert set(r["read_schema_columns"]) == {"ts", "event_type"}
    import re

    plan = formatted_plan(all_queries()["monitor_sla_burn"](spark, SF_DIR))
    # Count numbered plan nodes, not raw substrings (the formatted output
    # repeats nodes in AQE's "Initial Plan" section).
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan[:2000]


def test_assert_scale_safe_guard(spark, tmp_path):
    """plans.guard.assert_scale_safe: passes scale-shaped plans (and
    returns the report), rejects cross joins, missing pushdown, and
    blown exchange budgets with actionable messages."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
        ScaleSafetyError,
        assert_scale_safe,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        load_table,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    good = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    report = assert_scale_safe(good, require_pushed=["l_shipdate"], max_exchanges=1)
    assert report["exchanges"] == 1

    part = load_table(spark, SF_DIR, "part")
    cross = li.crossJoin(part.limit(3))
    with _pytest.raises(ScaleSafetyError, match="CartesianProduct|NestedLoop"):
        assert_scale_safe(cross)
    assert_scale_safe(cross, allow_nested_loop=True)  # explicit opt-in passes

    with _pytest.raises(ScaleSafetyError, match="never reached the scan"):
        assert_scale_safe(good, require_pushed=["l_quantity"])

    with _pytest.raises(ScaleSafetyError, match="exchanges > budget"):
        assert_scale_safe(good, max_exchanges=0)


def test_assert_scale_safe_pushed_filter_whole_identifier(spark):
    """require_pushed must match whole column identifiers: a pushed
    filter on prev_value must NOT satisfy require_pushed=['value']."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
        ScaleSafetyError,
        assert_scale_safe,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        load_table,
    )

    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    # 'l_ship' is a strict prefix of the actually-pushed 'l_shipdate'.
    with _pytest.raises(ScaleSafetyError, match="never reached the scan"):
        assert_scale_safe(li, require_pushed=["l_ship"])
    assert_scale_safe(li, require_pushed=["l_shipdate"])


def test_recursive_cte_compiles_to_union_loop(spark):
    """rel_recursive_cte: the recursion must plan as UnionLoop (bounded
    per-level hash joins), never a nested loop; exactly the frontier
    join's exchanges, no more."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    df = all_queries()["rel_recursive_cte"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "UnionLoop" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """rel_lateral_topk: Catalyst must DECORRELATE the per-region LATERAL
    subquery — WindowGroupLimit top-k + a broadcast join back to the
    region side, not a per-outer-row re-execution (which would plan as a
    nested loop)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    df = all_queries()["rel_lateral_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_synthetic_source_partial_aggregates_before_shuffle(spark):
    """monitor_synthetic_source: the custom Python source feeds a partial
    (map-side) HashAggregate BEFORE its single exchange — 20k generated
    rows collapse to 50 per partition pre-shuffle. The BatchScan itself
    runs in Python workers by design (a Python data source's documented
    cost, see sources/pysource.py) which the ArrowEvalPython-style
    python_stages census does not — and should not — count as a UDF
    stage creeping into a JVM query."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )

    df = all_queries()["monitor_synthetic_source"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BatchScan server_metrics" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
