"""Unit tests for the round-4 text/curation operators (stratified
sampling, shard packing, repetition scoring). Oracle parity at sf0.01 is
covered by test_oracle_parity; these pin operator-level invariants on
controlled inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
    pack_token_shards,
    repetition_stats,
    stratified_sample,
)

from .conftest import SF_SMOKE


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    kept1 = stratified_sample(docs, {"en": 25, "de": 100})
    kept2 = stratified_sample(docs, {"en": 25, "de": 100})
    rows1 = sorted(tuple(r) for r in kept1.collect())
    assert rows1 == sorted(tuple(r) for r in kept2.collect())  # reproducible
    counts = {r.lang: r.n for r in kept1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 1000  # 100% stratum untouched
    assert 150 < counts["en"] < 350  # ~25% of 1000, hash-uniform


def test_pack_token_shards_matches_naive_window(spark):
    docs = spark.createDataFrame(
        [(i, (i * 37) % 200 + 1) for i in range(5000)], "doc_id long, n_tok int"
    )
    got = {
        r.doc_id: (r.token_offset, r.shard_id)
        for r in pack_token_shards(docs, budget=1000, coarse=256).collect()
    }
    # naive single-window ground truth, driver-side
    rows = sorted((i, (i * 37) % 200 + 1) for i in range(5000))
    offset = 0
    for doc_id, n_tok in rows:
        assert got[doc_id] == (offset, offset // 1000), doc_id
        offset += n_tok
    # shards fill contiguously: every shard id up to the last is present
    shard_ids = {s for _, s in got.values()}
    assert shard_ids == set(range(max(shard_ids) + 1))


def test_connected_components_chains_and_singletons(spark):
    """Min-label propagation: a 5-hop chain (forces multiple iterations),
    a separate triangle, and isolated vertices as singleton clusters."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        connected_components,
    )

    # chain 10-11-12-13-14-15, triangle 20-21-22, singletons 30, 31
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
         (20, 21), (21, 22), (20, 22)],
        "a_id long, b_id long",
    )
    vertices = spark.createDataFrame(
        [(v,) for v in (10, 11, 12, 13, 14, 15, 20, 21, 22, 30, 31)],
        "doc_id long",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 31,
    }


def test_shuffle_order_is_permutation_and_partition_invariant(spark):
    """shuffle_order assigns each row a unique 0..N-1 position, the
    assignment is independent of input partitioning, and a different salt
    yields a different (independent) order."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        shuffle_order,
    )

    docs = spark.range(0, 3000).select(F.col("id").alias("doc_id"))
    out = {r.doc_id: r.shuffle_pos for r in shuffle_order(docs).collect()}
    assert sorted(out.values()) == list(range(3000))
    # not the identity order (it's a shuffle)
    assert [out[i] for i in range(3000)] != list(range(3000))

    repartitioned = {
        r.doc_id: r.shuffle_pos
        for r in shuffle_order(docs.repartition(17)).collect()
    }
    assert repartitioned == out

    epoch2 = {
        r.doc_id: r.shuffle_pos
        for r in shuffle_order(docs, salt="#epoch2").collect()
    }
    assert sorted(epoch2.values()) == list(range(3000))
    assert epoch2 != out


def test_duplicated_span_stats(spark):
    """Cross-doc span duplication: shared 10-token runs are flagged in
    BOTH carriers; intra-doc repeats alone don't count; short docs get
    zero spans."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        duplicated_span_stats,
    )

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, shared + " alpha beta"),            # shares the 10-run with doc 1
            (1, "intro words " + shared),           # shares the 10-run with doc 0
            (2, "totally different content " + "x y z " * 4),  # unique spans
            (3, "short doc"),                       # < 10 tokens: no spans
            (4, (shared + " ") * 2),                # intra-doc repeat of the run
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_fraction)
        for r in duplicated_span_stats(docs, k=10).collect()
    }
    # doc 0: 3 spans (12 tokens), the first (the shared run) is duplicated.
    assert got[0][0] == 3 and got[0][1] >= 1
    # doc 1: the shared run sits at the end — its span is duplicated.
    assert got[1][1] >= 1
    # doc 2: nothing shared.
    assert got[2][1] == 0 and got[2][0] > 0
    # doc 3: too short.
    assert got[3] == (0, 0, 0.0)
    # doc 4 contains the shared run too (cross-doc with 0 and 1).
    assert got[4][1] >= 1


def test_salted_sample_independent_of_split(spark):
    """An unsalted p% sample is a nested subset of the hash split (keep
    bucket < p implies train bucket < 80 whenever p <= 80); the salted
    sample must instead cover every split at roughly its rate."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        hash_bucket_100,
        stratified_sample,
    )

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    split_bucket = hash_bucket_100(F.col("doc_id"))
    rates = {"en": 50}

    unsalted = stratified_sample(docs, rates).withColumn("sb", split_bucket)
    # Unsalted: the 50% keep set is exactly buckets 0-49 — fully inside
    # the 80% train region; val (80-89) and test (90-99) get NOTHING.
    assert unsalted.filter(F.col("sb") >= 80).count() == 0

    salted = stratified_sample(docs, rates, salt="#sample").withColumn(
        "sb", split_bucket
    )
    val_test_total = docs.withColumn("sb", split_bucket).filter(F.col("sb") >= 80).count()
    val_test_kept = salted.filter(F.col("sb") >= 80).count()
    assert val_test_total > 0
    frac = val_test_kept / val_test_total
    # Independent hashing keeps ~50% of the val/test region too.
    assert 0.40 < frac < 0.60, frac
    # Default salt="" stays bit-identical to the historical behavior.
    assert sorted(r.doc_id for r in stratified_sample(docs, rates).collect()) == sorted(
        r.doc_id for r in stratified_sample(docs, rates, salt="").collect()
    )


def test_connected_components_long_chain_converges(spark):
    """Pointer doubling: a 200-hop path graph (diameter far beyond the
    default 20 rounds of plain min-propagation) converges within the
    default max_iter because each round halves the remaining distance."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        connected_components,
    )

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a_id long, b_id long"
    )
    vertices = spark.createDataFrame([(v,) for v in range(n + 1)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {v: 0 for v in range(n + 1)}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter without reaching the fixpoint must be LOUD —
    partially propagated labels are silently wrong cluster ids."""
    import pytest

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        connected_components,
    )

    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a_id long, b_id long"
    )
    vertices = spark.createDataFrame([(v,) for v in range(n + 1)], "doc_id long")
    # small_edge_limit=0 forces the distributed iterative path — the
    # small-graph union-find fast path always converges and would hide
    # the contract under test.
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, vertices, max_iter=2, small_edge_limit=0)


def test_repetition_stats_flags_looping_text(spark):
    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),          # all trigrams distinct
            (1, "spam spam spam spam spam spam"),   # one trigram repeated
            (2, "ab cd"),                           # < 3 tokens: no trigrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[0].n_trigrams == 4 and out[0].repetition_ratio == 0.0
    assert out[1].n_trigrams == 4 and out[1].n_distinct_trigrams == 1
    assert out[1].repetition_ratio == 0.75
    assert out[2].n_trigrams == 0 and out[2].repetition_ratio == 0.0


def test_char_entropy_known_values(spark):
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        char_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "aab")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in char_entropy(docs).collect()}
    assert rows[1].char_entropy == 0.0 and rows[1].n_distinct_chars == 1
    assert rows[2].char_entropy == 1.0  # two equiprobable symbols
    assert rows[3].char_entropy == 2.0  # four equiprobable symbols
    # H(2/3, 1/3) = log2(3) - 2/3
    import math

    assert abs(rows[4].char_entropy - (math.log2(3) - 2 / 3)) < 1e-12
    assert rows[4].n_chars_counted == 3


def test_source_quality_filter_mean_is_partitioning_invariant(spark):
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        source_quality_filter,
    )

    docs = spark.createDataFrame(
        [
            (i, "s" + str(i % 3), ("the and of quality text " * (1 + i % 5)).strip())
            for i in range(60)
        ],
        "doc_id long, source string, text string",
    )
    a = {r.source: r for r in source_quality_filter(docs, threshold=0.4).collect()}
    b = {
        r.source: r
        for r in source_quality_filter(docs.repartition(13), threshold=0.4).collect()
    }
    assert set(a) == {"s0", "s1", "s2"}
    for s in a:
        # Lattice-summed mean: bit-identical under any partitioning.
        assert a[s].mean_quality == b[s].mean_quality
        assert a[s].n_docs == 20
        assert a[s].kept == (a[s].mean_quality >= 0.4)


def test_gopher_rules_gate_boundaries(spark):
    """Each gate flips EXACTLY at its documented integer boundary — the
    property the all-integer formulation exists to guarantee (a float
    threshold could flicker at the edge; 100*top <= 15*n cannot)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        gopher_rules,
    )

    filler = [f"w{i:03d}" for i in range(200)]  # distinct 4-char words

    def doc(n_words, top_word_reps=1, stop_hits=2, punct=0, word="word"):
        ws = [word] * top_word_reps + ["the"] * stop_hits
        ws += filler[: n_words - len(ws)]
        assert len(ws) == n_words
        return " ".join(ws) + "." * punct

    rows = [
        # (doc_id, text, expected dict)
        (0, doc(30), dict(rule_len=True)),          # exactly min_tokens
        (1, doc(29), dict(rule_len=False)),         # one under
        (2, doc(40, top_word_reps=6), dict(rule_top_word=True)),   # 15.0%
        (3, doc(40, top_word_reps=7), dict(rule_top_word=False)),  # 17.5%
        (4, doc(40, stop_hits=2), dict(rule_stopwords=True)),
        (5, doc(40, stop_hits=1), dict(rule_stopwords=False)),
        (6, doc(40, punct=4), dict(rule_symbols=True)),            # 4 <= 40/10
        (7, doc(40, punct=5), dict(rule_symbols=False)),           # 5 > 4
        # mean word length: 40 two-char words => mean 2 < 3 fails; the
        # trailing punct glues onto the last token under whitespace
        # tokenization, so build exactly at the boundary with clean words
        (8, " ".join(["ab"] * 38 + ["the", "the"]), dict(rule_word_len=False)),
        (9, " ".join(["abc"] * 38 + ["the", "the"]), dict(rule_word_len=True)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    for doc_id, _, expected in rows:
        for rule, want in expected.items():
            assert got[doc_id][rule] is want, (doc_id, rule, got[doc_id])
    # passes_gopher is the conjunction of all five gates
    for doc_id, r in got.items():
        assert r["passes_gopher"] == (
            r["rule_len"] and r["rule_word_len"] and r["rule_stopwords"]
            and r["rule_top_word"] and r["rule_symbols"]
        )


def test_gopher_rules_partitioning_invariant(spark):
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        gopher_rules,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cols = ["doc_id", "passes_gopher", "rule_len", "rule_top_word"]
    a = {tuple(r) for r in gopher_rules(docs).select(*cols).collect()}
    b = {
        tuple(r)
        for r in gopher_rules(docs.repartition(13)).select(*cols).collect()
    }
    assert a == b and len(a) == docs.count()


def test_gopher_rules_null_text_fails_with_reasons(spark):
    """A NULL-text doc must stay IN the output with every gate False —
    the drop battery's accounting contract (an inner join on the
    top-word agg used to erase the doc entirely)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        gopher_rules,
    )

    df = spark.createDataFrame(
        [(0, None), (1, " ".join(["the", "the"] + [f"word{i}" for i in range(38)]))],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert set(got) == {0, 1}
    for rule in ("rule_len", "rule_word_len", "rule_stopwords",
                 "rule_top_word", "rule_symbols", "passes_gopher"):
        assert got[0][rule] is False, rule
    assert got[1]["passes_gopher"] is True


def test_quality_classifier_scores_zero_token_docs(spark, tmp_path):
    """ADVICE r10 #3: a keep-decision surface must issue a verdict for
    EVERY document — empty/NULL-text docs (explode emits no token rows)
    come back via the left join with n_tokens=0, score NULL, keep=False,
    and the DuckDB oracle mirrors the join so parity holds on a corpus
    that actually CONTAINS such docs (the shipped testdata has none)."""
    import duckdb

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.text import (
        ORACLES,
        text_quality_classifier,
    )

    # NULL text is the zero-token case (split of NULL is NULL, explode
    # emits nothing). Whitespace-only text is NOT: split(trim('   ')) is
    # [''] — one empty-string token — identically in Spark and DuckDB,
    # so doc 1 pins that consistent quirk rather than papering over it.
    rows = [
        (0, None, "en", "src0", 0),
        (1, "   ", "de", "src1", 3),
        (2, "plain words here", "en", "src0", 16),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r.doc_id: r.asDict() for r in text_quality_classifier(spark, sf_dir).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0]["n_tokens"] == 0
    assert got[0]["score_milli"] is None
    assert got[0]["keep"] is False
    assert got[1]["n_tokens"] == 1  # the [''] single-empty-token quirk
    assert got[2]["n_tokens"] == 3 and got[2]["score_milli"] is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = {
        r[0]: r for r in con.execute(ORACLES["text_quality_classifier"]).fetchall()
    }
    for i in (0, 1, 2):
        g = got[i]
        assert oracle[i] == (i, g["lang"], g["n_tokens"], g["score_milli"], g["keep"])


def test_chunk_udtf_matches_jvm_chunker(spark):
    """VERDICT r10 #2 pin: the Spark 4 arrow-optimized Python UDTF twin
    must reproduce the codegen'd chunker BIT-FOR-BIT (they share one
    oracle), must plan as ArrowEvalPythonUDTF (arrow-optimized, not the
    row-based BatchEvalPythonUDTF), and must honor the chunker's edge
    semantics: NULL text -> no rows, whitespace-only text -> one ['']
    chunk."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        chunk_windows_udtf,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.extras import (
        text_chunk_udtf,
        text_chunking,
    )

    from .conftest import SF_SMOKE

    udtf_df = text_chunk_udtf(spark, SF_SMOKE)
    plan = formatted_plan(udtf_df)
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan
    a = sorted(tuple(r) for r in udtf_df.collect())
    b = sorted(tuple(r) for r in text_chunking(spark, SF_SMOKE).collect())
    assert a == b and len(a) > 0

    # edge semantics on a controlled frame, via the operator directly
    spark.udtf.register("chunk_windows_t", chunk_windows_udtf(4, 3))
    spark.createDataFrame(
        [(0, None), (1, "   "), (2, "a b c d e")],
        "doc_id long, text string",
    ).createOrReplaceTempView("chunk_edge_v")
    rows = spark.sql(
        "SELECT c.* FROM chunk_edge_v d, "
        "LATERAL chunk_windows_t(d.doc_id, d.text) c"
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 0 not in by_doc  # NULL text: no verdict rows from a chunker
    assert [(r.chunk_text, r.n_tokens) for r in by_doc[1]] == [("", 1)]
    got2 = sorted((r.chunk_idx, r.chunk_text, r.n_tokens) for r in by_doc[2])
    assert got2 == [(0, "a b c d", 4), (1, "d e", 2)]


def test_weighted_reservoir_is_exact_aes(spark):
    """A-ES sampler pins: (1) the sample is EXACTLY the n smallest
    -ln(u)/w keys (replayed driver-side from the same md5 uniforms),
    without replacement; (2) zero/negative-weight rows can never be
    drawn; (3) weighting works — heavy rows are overrepresented vs a
    uniform draw of the same size."""
    import hashlib
    import math

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        weighted_reservoir,
    )

    rows = [(i, (i % 100) + 1 if i % 7 else 0) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, w int")
    got = [(r.doc_id, r.aes_key_nano) for r in weighted_reservoir(df, "w", 150).collect()]
    assert len(got) == 150 and len({d for d, _ in got}) == 150  # no replacement
    assert all(rows[d][1] > 0 for d, _ in got)  # zero-weight never drawn

    def key_nano(doc_id, w):
        u8 = hashlib.md5(f"{doc_id}#aes".encode()).hexdigest()[:8]
        u = (int(u8, 16) + 0.5) / 4294967296.0
        return math.floor(-math.log(u) / float(w) * 1e9)

    replay = sorted(
        ((key_nano(d, w), d) for d, w in rows if w > 0)
    )[:150]
    assert sorted((k, d) for d, k in got) == replay

    # weighting: mean weight in the sample must exceed the corpus mean
    # (w ranges 1..100; expected sample mean under A-ES is ~2/3 point up)
    corpus_mean = sum(w for _, w in rows if w > 0) / sum(1 for _, w in rows if w > 0)
    sample_mean = sum(rows[d][1] for d, _ in got) / 150
    assert sample_mean > corpus_mean * 1.15, (sample_mean, corpus_mean)


def test_canonicalize_url_edge_cases(spark):
    """r13: hand-pinned canonicalization table — each row exercises one
    documented step (scheme/host case, www., default ports for BOTH
    schemes and a non-default port kept, fragment, utm_* in every
    position incl. utm-only queries, doubled slashes, trailing slash,
    root path, empty path) plus combinations. The oracle gate proves
    Spark==DuckDB on the generated variants; this pins Spark==SPEC."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        canonicalize_url,
    )

    cases = [
        ("https://Example.COM/a/b", "https://example.com/a/b"),
        ("HTTP://WWW.EXAMPLE.COM/a", "http://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:443/a", "https://example.com/a"),
        # non-default port survives; http keeps :443 and vice versa
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        ("http://example.com:443/a", "http://example.com:443/a"),
        ("https://example.com/a#frag", "https://example.com/a"),
        ("https://example.com/a?utm_source=x", "https://example.com/a"),
        ("https://example.com/a?utm_a=1&utm_b=2", "https://example.com/a"),
        ("https://example.com/a?utm_a=1&id=5", "https://example.com/a?id=5"),
        ("https://example.com/a?id=5&utm_b=2", "https://example.com/a?id=5"),
        (
            "https://example.com/a?id=5&utm_b=2&page=3",
            "https://example.com/a?id=5&page=3",
        ),
        # -- r14 boundary fixes (ADVICE r13) --
        # a non-tracking param merely CONTAINING 'utm_' survives intact
        # (the unanchored r13 regex mangled it to ?a_id=2)
        ("https://example.com/a?a_utm_x=1&id=2", "https://example.com/a?a_utm_x=1&id=2"),
        ("https://example.com/a?xutm_b=1", "https://example.com/a?xutm_b=1"),
        # a path legally containing '=' and '&' is never rewritten
        ("https://example.com/p/utm_x=1&y/z", "https://example.com/p/utm_x=1&y/z"),
        # tracker names with digits / second underscores are stripped
        ("https://example.com/a?utm_source_platform=ios", "https://example.com/a"),
        ("https://example.com/a?utm_id_2=9&id=5", "https://example.com/a?id=5"),
        # a trailing lone '?' (empty query) collapses onto the bare path
        ("https://example.com/a?", "https://example.com/a"),
        # a literal '?' inside a param VALUE must not open a new utm
        # match site (r14 review: pass (ii) is ^-anchored for this)
        ("https://example.com/a?a=b?utm_x=1&c=2", "https://example.com/a?a=b?utm_x=1&c=2"),
        ("https://example.com/a?utm_a=1&x=2?utm_b=3&y=4", "https://example.com/a?x=2?utm_b=3&y=4"),
        # utm chains in every position drain fully
        ("https://example.com/a?utm_a=1&utm_b=2&id=3", "https://example.com/a?id=3"),
        ("https://example.com/a?utm_a=1&utm_b=2&utm_c=3", "https://example.com/a"),
        ("https://example.com/a?utm_a=1&", "https://example.com/a"),
        ("https://example.com//a///b", "https://example.com/a/b"),
        ("https://example.com/a/", "https://example.com/a"),
        ("https://example.com/", "https://example.com/"),
        ("https://example.com", "https://example.com/"),
        # path case is significant and preserved
        ("https://example.com/CaseSensitive", "https://example.com/CaseSensitive"),
        # everything at once
        (
            "HTTPS://WWW.Example.COM:443//Docs//d3/?utm_m=x&id=7#top",
            "https://example.com/Docs/d3?id=7",
        ),
    ]
    df = spark.createDataFrame(cases, "url string, expected string").select(
        "url", "expected", canonicalize_url(F.col("url")).alias("got")
    )
    bad = [(r.url, r.got, r.expected) for r in df.collect() if r.got != r.expected]
    assert not bad, bad


def test_langid_hash_gate_spec(spark):
    """r14 (VERDICT r13 #2a): the hash-based language gate as a FILTER —
    hand-pinned pass/fail spec per conjunct, plus the hashed-profile
    contract (build-time hashlib md5 == runtime engine md5)."""
    import hashlib

    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        _LANG_MARKER_HASHES,
        langid_hash_gate,
    )

    # The pre-hashed profile must be the md5-prefix int of each marker.
    assert _LANG_MARKER_HASHES["en"][0] == int(
        hashlib.md5(b"the").hexdigest()[:8], 16
    )

    en = "the cat sat of the mat and went to sleep in a box"  # dense markers
    cases = [
        (1, en, True),  # clean English: dominance + density + no CJK
        (2, "der hund ist nicht ein das die und klein", False),  # de dominates
        (3, "the " + "x1 x2 x3 " * 10, False),  # 1 hit / 31 toks < 50 permille
        (4, "zzz qqq www", False),  # zero hits fails min_hits
        (5, en + " 中文", False),  # CJK routes to the zh pipeline
        (6, None, False),  # NULL text is dropped (gate, not accounting)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id long, text string"
    )
    kept = {r.doc_id for r in langid_hash_gate(df).select("doc_id").collect()}
    assert kept == {i for i, _, want in cases if want}, kept

    # Survivors carry the target hit count; doc 1 has 7 marker tokens
    # ('the' twice, of, and, to, in, a).
    row = langid_hash_gate(df).filter(F.col("doc_id") == 1).collect()[0]
    assert row.gate_hits == 7

    # Registry composite at sf0.001: the gate actually filters (both
    # populations non-empty), no CJK doc survives, and the battery
    # splits survivors across keep/drop.
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.text import (
        text_langid_gate,
    )

    out = text_langid_gate(spark, "/root/testdata/sf0.001").collect()
    n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert 0 < len(out) < n_docs
    assert all(r.gate_hits >= 1 for r in out)
    verdicts = {r.passes_gopher for r in out}
    assert verdicts == {True, False}


def test_canonicalize_url_matches_urllib_spec_reference(spark):
    """r14 hardening, born from the ADVICE r13 #1 failure class: the
    DuckDB oracle replays the SAME regex passes as the engine, so a
    shared regex bug is invisible to parity (exactly how the mid-token
    utm match survived r13). This test compares the engine against an
    INDEPENDENT reference — urllib.parse splitting + explicit per-param
    filtering, no regexes shared with the implementation — over ~300
    seeded generated URLs spanning the operator's contract (scheme/host
    case, www., default and odd ports, fragments, utm chains in every
    position, names that merely contain 'utm_', digit/underscore
    tracker names, params without '=', values containing '=', doubled
    slashes, trailing slashes, empty paths and queries)."""
    import random
    import re
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        canonicalize_url,
    )

    def reference(url: str) -> str:
        # Independent spec: urllib does the structural split; the utm
        # rule is an explicit full-name match per parameter.
        parts = urlsplit(url)  # handles fragment removal structurally
        scheme = parts.scheme.lower()
        host = parts.netloc.lower()
        if host.startswith("www."):
            host = host[4:]
        default = {"http": ":80", "https": ":443"}.get(scheme)
        if default and host.endswith(default):
            host = host[: -len(default)]
        path = re.sub(r"/{2,}", "/", parts.path)
        if path != "/":
            path = path.rstrip("/")
        if path == "":
            path = "/"
        kept = [
            p
            for p in (parts.query.split("&") if parts.query else [])
            if not ("=" in p and re.fullmatch(r"utm_[A-Za-z0-9_]+", p.split("=", 1)[0]))
        ]
        query = ("?" + "&".join(kept)) if kept else ""
        return f"{scheme}://{host}{path}{query}"

    rng = random.Random(1414)
    schemes = ["http", "https", "HTTP", "HTTPS"]
    hosts = ["Example.COM", "www.example.com", "WWW.Sub.Example.org", "a-b.example.net"]
    ports = ["", "", ":80", ":443", ":8080"]
    segs = ["a", "B", "docs", "d3", "CaseSensitive", "utm_x=1&y"]
    params = [
        "id=5", "utm_source=feed", "utm_campaign=c9", "a_utm_x=1", "xutm_b=1",
        "utm_source_platform=ios", "utm_id_2=9", "page=3", "q=a=b", "flag",
        "utm_a=1", "utm_b=2", "utm_c=3",
        # values containing a literal '?' — a second potential (and
        # illegitimate) utm match site inside the query (r14 review)
        "a=b?utm_x=1", "x=2?utm_b=3",
    ]
    cases = []
    for _ in range(300):
        scheme = rng.choice(schemes)
        host = rng.choice(hosts) + rng.choice(ports)
        path = "".join(
            ("//" if rng.random() < 0.2 else "/") + rng.choice(segs)
            for _ in range(rng.randint(0, 3))
        )
        if rng.random() < 0.2:
            path += "/"
        q = "&".join(rng.choice(params) for _ in range(rng.randint(0, 4)))
        url = f"{scheme}://{host}{path}"
        if q or rng.random() < 0.1:
            url += "?" + q
        if rng.random() < 0.3:
            url += "#frag?x=1"
        cases.append(url)

    df = spark.createDataFrame([(u,) for u in cases], "url string").select(
        "url", canonicalize_url(F.col("url")).alias("got")
    )
    bad = [
        (r.url, r.got, reference(r.url))
        for r in df.collect()
        if r.got != reference(r.url)
    ]
    assert not bad, bad[:10]


def test_langid_hash_gate_matches_pure_python_replay(spark):
    """r14 hardening (the shared-construction risk): the gate's DuckDB
    oracle interpolates the SAME _LANG_MARKER_HASHES ints the engine
    compares against, so a bug in the profile construction would agree
    on both sides of the parity gate. Replay the ENTIRE gate decision
    in pure Python — re-tokenize, re-hash every token with hashlib
    directly from the marker WORD lists (never the shared hash dict),
    re-apply the dominance/density/CJK/min-hits conjuncts — over the
    sf0.001 documents corpus and demand the identical survivor set."""
    import hashlib
    import re

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        _LANG_MARKERS,
        langid_hash_gate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]

    def h32(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)

    profiles = {
        lang: {h32(w) for w in words} for lang, words in _LANG_MARKERS.items()
    }
    cjk = re.compile("[一-鿿]")

    def survives(text: str | None) -> bool:
        if text is None or cjk.search(text):
            return False
        # Spark's trim strips SPACE characters only (not \n/\t) — match
        # it exactly, or a leading newline would change the token count
        # and flip the density gate on exotic corpora. The splitter must
        # mirror Java's default \s (ASCII-only) too: Python's \s also
        # matches NBSP/U+2028, which would diverge for tokenization
        # reasons, not gate-logic reasons (ADVICE r14 #4).
        toks = re.split("[ \t\n\x0b\f\r]+", text.strip(" ").lower())
        hashes = [h32(t) for t in toks]
        hits = {
            lang: sum(1 for h in hashes if h in prof)
            for lang, prof in profiles.items()
        }
        others = max(hits["de"], hits["es"], hits["fr"])
        return (
            hits["en"] >= others
            and hits["en"] >= 1
            and 1000 * hits["en"] >= 50 * len(toks)
        )

    expect = {doc_id for doc_id, text in rows if survives(text)}
    got = {
        r.doc_id for r in langid_hash_gate(docs).select("doc_id").collect()
    }
    assert got == expect, (len(got), len(expect), sorted(got ^ expect)[:10])
    assert expect  # the gate keeps something on this corpus


def test_fingerprint_matches_pure_python_replay(spark):
    """r15 hardening, the shared-construction standard: text_fingerprint's
    oracle replays the same md5-of-sorted-bag and the same Rabin-Karp
    fold (base 1000003 mod 2^31-1) the engine computes, so replay both
    fingerprints third-hand — hashlib digests, Python-int fold over the
    token stream in order — and demand identical values per document.
    Python's sorted() orders by code point and Spark's array_sort by
    UTF-8 binary; UTF-8 preserves code-point order, so they agree."""
    import hashlib
    import re

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        _FP_BASE,
        _FP_MOD,
        fingerprint,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]

    def replay(text: str) -> tuple[str, int]:
        toks = re.split("[ \t\n\x0b\f\r]+", text.strip(" ").lower())
        bag = " ".join(sorted(set(toks)))
        fp = hashlib.md5(bag.encode()).hexdigest()
        acc = 0
        for t in toks:
            acc = (acc * _FP_BASE + int(hashlib.md5(t.encode()).hexdigest()[:8], 16)) % _FP_MOD
        return fp, acc

    expect = {doc_id: replay(text) for doc_id, text in rows if text is not None}
    got = {
        r.doc_id: (r.fingerprint, r.rolling_fp)
        for r in fingerprint(docs).select("doc_id", "fingerprint", "rolling_fp").collect()
        if r.fingerprint is not None
    }
    assert expect and got == expect, (
        len(got), len(expect),
        [(k, got.get(k), expect.get(k)) for k in list(set(got) ^ set(expect))[:3]]
        or [(k, got[k], expect[k]) for k in got if got[k] != expect[k]][:3],
    )


def test_bpe_train_matches_pure_python_replay(spark):
    """r15 hardening, the shared-construction standard: text_bpe_train's
    oracle replays the engine's separator-framed string-replace merge
    trick with the same SQL shapes, so a conceptual bug in the BPE
    semantics (overlapping-pair counting vs leftmost non-overlapping
    merging, the tie order, the [a-z]-only vocabulary) would agree on
    both sides. Replay the 3-step training trajectory with an
    INDEPENDENT formulation — symbol LISTS merged by an index scan, no
    separator strings anywhere — and demand the identical
    (step, pair, count) rows."""
    import re
    from collections import Counter

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        bpe_train_merges,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [r.text for r in docs.select("text").collect() if r.text is not None]
    vocab: Counter[str] = Counter()
    word_re = re.compile("^[a-z]+$")
    for text in rows:
        for w in re.split("[ \t\n\x0b\f\r]+", text.strip(" ").lower()):
            if word_re.match(w):
                vocab[w] += 1

    state = {w: list(w) for w in vocab}
    expect = []
    for step in (1, 2, 3):
        # Count EVERY adjacent position (overlaps included) — that is
        # what the engine's zip_with explode counts, even though the
        # merge below is leftmost non-overlapping.
        counts: Counter[tuple[str, str]] = Counter()
        for w, syms in state.items():
            n = vocab[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += n
        (a, b), n_pairs = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((step, a, b, n_pairs))
        for w, syms in state.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            state[w] = merged

    got = [
        (r.step, r.left_sym, r.right_sym, r.n_pairs)
        for r in bpe_train_merges(docs, n_merges=3).orderBy("step").collect()
    ]
    assert got == expect, (got, expect)


def test_hot_key_regime_split_plans_differ_results_agree(spark, monkeypatch):
    """r16 regime split (ADVICE r15 #1): the unbounded-hot-key corpus
    statistics (term df, w1/bigram LM counts, shingle df, span-fp
    spread, shingle first-occurrence) plan as WINDOW folds below the
    input-size threshold and as agg + join-back above it — the window
    form is the measured local win, the join form the skew-splittable
    at-scale shape. Pin BOTH halves of that contract on every touched
    query: the two modes must return identical rows (the switch may
    never change results), and their plans must actually differ (else
    the switch is dead code and the at-scale regime silently vanished)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.functions import (
        scale,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        plan_report,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        all_queries,
    )

    q = all_queries()
    names = [
        "text_tfidf",
        "text_bigram_logprob",
        "text_ngram_novelty",
        "text_dup_spans",
        "dedup_ngram_jaccard",
        "dedup_containment",
    ]
    outs = {}
    for mode in ("window", "join"):
        if mode == "join":
            # Every input is past a 0-byte threshold: the at-scale regime.
            monkeypatch.setattr(scale, "HOT_KEY_JOIN_BYTES", 0)
        for n in names:
            spark.catalog.clearCache()
            df = q[n](spark, SF_SMOKE)
            cols = sorted(df.columns)
            rows = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
            rep = plan_report(df)
            shape = tuple(
                rep[k]
                for k in (
                    "exchanges",
                    "broadcast_joins",
                    "sort_merge_joins",
                    "nested_loop_joins",
                )
            )
            outs[(mode, n)] = (rows, shape)
    spark.catalog.clearCache()
    for n in names:
        rows_w, shape_w = outs[("window", n)]
        rows_j, shape_j = outs[("join", n)]
        assert rows_w == rows_j, f"{n}: regime modes disagree on results"
        assert shape_w != shape_j, (
            f"{n}: window and join modes produced identical plan shapes "
            f"({shape_w}) — the regime switch is not switching"
        )
