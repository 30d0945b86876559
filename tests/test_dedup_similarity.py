"""Quality pins for the approximate (rows-only) dedup/similarity paths.

The driver can only check these run; these tests pin that the LSH paths
actually FIND the near-duplicates the exact algorithms find.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    dedup as d,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    similarity as s,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
    load_table,
)

from .conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_ORACLE, "documents").cache()


def test_minhash_lsh_recall(spark, docs):
    shingled = d.word_shingles(docs).cache()
    exact = {
        (r.a_id, r.b_id) for r in d.jaccard_pairs(shingled, threshold=0.8).collect()
    }
    lsh = {(r.a_id, r.b_id) for r in d.minhash_lsh_pairs(shingled, threshold=0.8).collect()}
    assert exact, "testdata should contain seeded near-dup pairs"
    assert lsh <= exact, "LSH output is Jaccard-verified; no false positives possible"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.2%} below 95% (16x4 bands at s>=0.8)"


def test_simhash_finds_neardups(spark, docs):
    shingled = d.word_shingles(docs)
    exact = {
        (r.a_id, r.b_id) for r in d.jaccard_pairs(shingled, threshold=0.9).collect()
    }
    sim = {(r.a_id, r.b_id) for r in d.simhash_pairs(docs).collect()}
    assert exact
    recall = len(sim & exact) / len(exact)
    assert recall >= 0.85, f"SimHash recall {recall:.2%} vs exact jaccard>=0.9 pairs"


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_lsh_topk(corpus, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    # Uniform random vectors are LSH's adversarial case (no cluster
    # structure); 12x6 multi-table should still recover a solid fraction.
    assert recall >= 0.35, f"ANN-LSH recall {recall:.2%} suspiciously low"
    assert len(approx) > 0


def test_ann_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_ivf_topk(corpus, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    # Probing 4 of 16 cells scans ~25% of a no-cluster-structure corpus;
    # measured ~55% recall (2x the probed fraction). Real embedding
    # corpora cluster, which is what IVF exploits.
    assert recall >= 0.35, f"ANN-IVF recall {recall:.2%} suspiciously low"
    # Every query must still produce a full top-k (cells are never empty
    # at these sizes).
    assert len(approx) == len(exact)


def test_exact_dedup_representative(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, "x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.n_copies for r in d.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_cosine_pairs_lsh_recall_and_precision(spark):
    """Bucketed near-dup: precision exactly 1 (exact verify), recall pinned
    vs the exact all-pairs set at the query's threshold/params."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.dedup import (
        COSINE_LSH_THRESHOLD,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r.a_id, r.b_id)
        for r in s.cosine_pairs(emb, threshold=COSINE_LSH_THRESHOLD).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in s.cosine_pairs_lsh(
            emb, threshold=COSINE_LSH_THRESHOLD, planes_per_table=3, n_tables=16
        ).collect()
    }
    assert lsh <= exact, "exact-verify must make precision exactly 1"
    recall = len(lsh & exact) / len(exact)
    # 3 bits x 16 tables at cos>=0.45: per-pair P(candidate) ~ 99.4% at the
    # threshold boundary, higher above it.
    assert recall >= 0.85, f"cosine LSH recall {recall:.2%}"


def test_quantized_ann_recall_vs_float(spark):
    """Int8 quantization must preserve top-k ranking quality: recall >=
    90% vs the exact float brute force, and the quantized reconstruction
    error stays within the scale/2 per-element bound."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_topk(corpus, queries, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_quantized_topk(corpus, queries, k=5).collect()
    }
    recall = len(quant & exact) / len(exact)
    assert recall >= 0.9, f"quantized ANN recall {recall:.2%}"

    # reconstruction bound: |x - q*scale| <= scale/2 per element
    q = s.quantize_int8(emb).join(emb, "vec_id").limit(50).collect()
    for row in q:
        for x, qi in zip(row.embedding, row.qvec):
            assert abs(float(x) - qi * row.scale) <= row.scale / 2 + 1e-12


def test_cosine_pairs_block_count_scales_with_corpus():
    """Block derivation keeps the expected block row bounded at
    target_block_rows for any corpus size (the r02 fixed n_blocks=8 grew
    block rows linearly with N)."""
    d = s._derive_n_blocks
    assert d(0, 2048) == 1
    assert d(1, 2048) == 1
    assert d(2048, 2048) == 1
    assert d(2049, 2048) == 2
    for n in (10**6, 10**9, 10**12):
        nb = d(n, 2048)
        assert -(-n // nb) <= 2048  # ceil(N / n_blocks) <= target


def test_cosine_pairs_output_invariant_to_blocking(spark):
    """Blocking is score-invariant: explicit n_blocks and the derived
    default must produce the identical pair set."""
    emb = load_table(spark, SF_ORACLE, "embeddings").limit(200)
    auto = {(r.a_id, r.b_id) for r in s.cosine_pairs(emb, threshold=0.3).collect()}
    manual = {
        (r.a_id, r.b_id)
        for r in s.cosine_pairs(emb, threshold=0.3, n_blocks=7).collect()
    }
    assert auto == manual
    assert auto, "expected at least one pair at threshold 0.3"


def test_quantize_int8_zero_vector_is_total(spark):
    """Degenerate all-zero embedding: scale is 0, qvec must be all zeros
    (not NULL/NaN from 0/0), and dequantization q*scale reproduces the
    zero vector exactly."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [0.5, -1.0, 0.25, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in s.quantize_int8(df).collect()}
    zero = rows[1]
    assert zero.scale == 0.0
    assert list(zero.qvec) == [0, 0, 0, 0]
    # the non-degenerate vector is unaffected by the epsilon guard
    normal = rows[2]
    assert normal.scale == pytest.approx(1.0 / 127.0)
    assert list(normal.qvec) == [64, -127, 32, 0]


def test_chunking_covers_every_token_with_overlap(spark):
    """Chunking invariants on real data: chunk starts stride correctly,
    every token position is covered by >=1 chunk, and consecutive chunks
    of long docs overlap by exactly CHUNK_TOKENS - CHUNK_STRIDE tokens."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.extras import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunking,
    )

    chunks = text_chunking(spark, SF_ORACLE).collect()
    docs = {
        r.doc_id: len(r.text.lower().strip().split())
        for r in load_table(spark, SF_ORACLE, "documents").collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        n = docs[doc_id]
        assert rows[0].chunk_idx == 0
        covered = 0
        for i, r in enumerate(rows):
            start = r.chunk_idx * CHUNK_STRIDE
            assert r.n_tokens == min(n - start, CHUNK_TOKENS)
            covered = max(covered, start + r.n_tokens)
            if i > 0:
                assert r.chunk_idx == rows[i - 1].chunk_idx + 1
        assert covered == n, (doc_id, covered, n)


def test_curation_output_is_near_dup_free(spark):
    """Dropping the higher id of every qualifying pair leaves NO
    qualifying pair with both endpoints surviving (any such pair's max id
    would have been dropped) — pinned on the real corpus."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        pipeline_corpus_curation,
    )

    curated = {r.doc_id for r in pipeline_corpus_curation(spark, SF_ORACLE).collect()}
    assert curated
    docs = load_table(spark, SF_ORACLE, "documents").filter(
        F.col("doc_id").isin([int(x) for x in curated])
    )
    leftover = d.jaccard_pairs(d.word_shingles(docs), threshold=JACCARD_THRESHOLD).count()
    assert leftover == 0, f"{leftover} near-dup pairs survive curation"


def test_knn_join_recall_and_shape(spark):
    """Self kNN join: per-vector top-5 via LSH buckets. Recall vs the
    exact brute-force kNN graph must clear the multi-table LSH bound;
    every vector gets <= 5 ranked neighbors with dense ranks 1..n."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        knn_join,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    got = knn_join(emb, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.vec_id, []).append((r.rnk, r.neighbor_id))
    for q, ns in by_q.items():
        ranks = sorted(rk for rk, _ in ns)
        assert ranks == list(range(1, len(ns) + 1))
        assert len(ns) <= 5
    # Exact top-5 graph (numpy brute force over the small test corpus).
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    hits = total = 0
    for i, q in enumerate(ids):
        true_top = set(ids[np.argsort(-sims[i])[:5]])
        approx = {n for _, n in by_q.get(int(q), [])}
        hits += len(true_top & approx)
        total += 5
    assert hits / total > 0.5, f"recall {hits/total:.2f}"


def test_containment_catches_snippet_jaccard_misses(spark):
    """A short snippet quoted inside a long page: containment ~1 but
    Jaccard tiny — containment_pairs must find the directed pair, and
    must match the naive all-pairs formulation exactly."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        word_shingles,
    )

    snippet = "alpha beta gamma delta epsilon zeta"
    page = snippet + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, snippet), (2, page), (3, "totally unrelated words here now")],
        "doc_id long, text string",
    )
    sh = word_shingles(docs)
    cont = [(r.a_id, r.b_id) for r in containment_pairs(sh, threshold=0.9).collect()]
    assert cont == [(1, 2)]  # directed: snippet inside page, never reverse
    assert jaccard_pairs(sh, threshold=0.8).count() == 0
    # Lossless vs naive all-pairs verify.
    naive = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .count()
    )
    sizes = sh.groupBy("doc_id").count().withColumnRenamed("count", "n")
    naive_pairs = [
        (r.a_id, r.b_id)
        for r in naive.join(sizes.withColumnRenamed("doc_id", "a_id"), "a_id")
        .filter(F.col("count") / F.col("n") >= 0.9)
        .collect()
    ]
    assert sorted(naive_pairs) == cont


def test_ann_ivfpq_recall_vs_bruteforce(spark):
    """IVF-PQ trades recall for 32x candidate compression; on uniform
    random vectors (the adversarial no-cluster case) ADC over probe-4
    cells must still recover a solid fraction of the exact top-5, and
    every query must get exactly k ranked neighbors."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in s.ann_topk(corpus, queries, k=5).collect()
    }
    rows = s.ann_ivfpq_topk(corpus, queries, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(approx & exact) / len(exact)
    # Measured 0.37 vs the IVF probe-4 ceiling of 0.43 on this corpus —
    # the refine stage recovers most of what ADC quantization loses.
    assert recall >= 0.3, f"IVF-PQ recall {recall:.2%} suspiciously low"
    from collections import Counter

    per_query = Counter(r.query_id for r in rows)
    assert all(v == 5 for v in per_query.values()) and len(per_query) == 20


def test_cosine_pairs_partition_scoped_equals_filtered_global(spark):
    """cosine_pairs(partition_col=...) must return EXACTLY the global
    pair set restricted to same-partition pairs — the SemDeDup contract
    (and the proof the equi-join grid loses nothing within a cluster)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        cosine_pairs,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").limit(300)
    withp = emb.withColumn("grp", F.pmod(F.col("vec_id"), F.lit(3)))
    scoped = {
        (r.a_id, r.b_id)
        for r in cosine_pairs(withp, threshold=0.4, partition_col="grp").collect()
    }
    glob = {
        (r.a_id, r.b_id)
        for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    same_grp = {(a, b) for a, b in glob if a % 3 == b % 3}
    assert scoped == same_grp
    assert scoped  # non-vacuous: some same-partition pairs exist


def test_cosine_pairs_partitioned_blocking_invariant(spark):
    """Sub-blocking within a partition is score-invariant: 1 block vs 5
    blocks yield the identical pair set (same invariance the global
    operator pins, re-proven for the partition-scoped grid)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        cosine_pairs,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").limit(200)
    withp = emb.withColumn("grp", F.pmod(F.col("vec_id"), F.lit(2)))
    one = {
        (r.a_id, r.b_id)
        for r in cosine_pairs(
            withp, threshold=0.4, partition_col="grp", n_blocks=1
        ).collect()
    }
    five = {
        (r.a_id, r.b_id)
        for r in cosine_pairs(
            withp, threshold=0.4, partition_col="grp", n_blocks=5
        ).collect()
    }
    assert one == five and one


def test_sim_top_pc_matches_pure_python_replay(spark):
    """Third-engine pin for the power-iteration trajectory: a pure-Python
    replay of the same pinned op sequence (left-fold dots, micro-lattice
    int sums, fold-ordered normalize — Python floats ARE IEEE binary64,
    so identical op order means identical doubles) must reproduce the
    Spark loadings EXACTLY, and the replayed Rayleigh quotient must be
    non-decreasing across iterates (the power-iteration invariant)."""
    import math

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        _POWER_ITERS,
        _power_v0,
        sim_top_pc,
    )

    sf = "/root/testdata/sf0.001"
    X = [
        [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ]
    dim = len(X[0])

    def fold_dot(a, b):
        acc = 0.0
        for i in range(dim):
            acc = acc + a[i] * b[i]
        return acc

    w = [float(x) for x in _power_v0()]
    rayleighs = []
    for _ in range(_POWER_ITERS):
        u = [0] * dim
        for row in X:
            s = fold_dot(row, w)
            for d in range(dim):
                u[d] += int(math.floor(row[d] * s * 1e6 + 0.5))
        raw = [x / 1e6 for x in u]
        acc = 0.0
        for y in raw:
            acc = acc + y * y
        nrm = math.sqrt(acc)
        w = [x / nrm for x in raw]
        # Rayleigh quotient w'X'Xw grows monotonically under power iteration
        rayleighs.append(sum(fold_dot(row, w) ** 2 for row in X))
    assert rayleighs == sorted(rayleighs)

    got = {
        r.dim: r.loading for r in sim_top_pc(spark, sf).collect()
    }
    expect = {d: math.floor(w[d] * 1e6 + 0.5) / 1e6 for d in range(dim)}
    assert got == expect


def test_sim_top_pc_partitioning_invariant(spark):
    """The micro-lattice int64 sums make every iterate — not just the
    output — independent of row order and partitioning."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_top_pc,
    )

    sf = "/root/testdata/sf0.001"
    base = {(r.dim, r.loading) for r in sim_top_pc(spark, sf).collect()}

    # same query over a 13-way repartitioned source: identical loadings
    import real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources as src

    orig = src.load_table

    def shuffled(s, d, t):
        df = orig(s, d, t)
        return df.repartition(13) if t == "embeddings" else df

    import real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity as qs

    saved = qs.load_table
    qs.load_table = shuffled
    try:
        alt = {(r.dim, r.loading) for r in sim_top_pc(spark, sf).collect()}
    finally:
        qs.load_table = saved
    assert base == alt


def test_cosine_pairs_null_partition_rows_compare_together(spark):
    """partition_col rows with a NULL value form their own comparison
    group (null-safe grid join) — a plain == would silently drop their
    pairs and let NULL-cluster near-dups through."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        cosine_pairs,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").limit(40)
    withp = emb.withColumn(
        "grp",
        F.when(F.col("vec_id") % 2 == 0, F.lit(None)).otherwise(F.lit(1)),
    )
    scoped = {
        (r.a_id, r.b_id)
        for r in cosine_pairs(withp, threshold=0.3, partition_col="grp").collect()
    }
    glob = {
        (r.a_id, r.b_id) for r in cosine_pairs(emb, threshold=0.3).collect()
    }
    same_grp = {(a, b) for a, b in glob if a % 2 == b % 2}
    assert scoped == same_grp
    assert any(a % 2 == 0 for a, _ in scoped), "no NULL-group pair exercised"


def test_noise_floor_guardrail_warns_on_low_dim_corpus(spark):
    """VERDICT r08 #5 pin: on the synthetic dim-64 corpus the 0.45
    near-dup threshold sits ~3.6 sigma above the random-pair cosine floor
    (sd ~ 1/sqrt(64) = 0.125) — firmly inside the quadratic-output regime
    the K=25 ladder measured — so the pre-flight guardrail MUST warn."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    with pytest.warns(s.NoiseFloorWarning):
        gap = s.warn_if_threshold_in_noise_floor(emb, 0.45)
    assert 1.0 < gap < 6.0, f"dim-64 sigma gap {gap:.2f} outside expected band"


def test_noise_floor_guardrail_passes_at_high_dim(spark):
    """At dim=768 (production text-embedding settings) sd ~ 1/sqrt(768)
    = 0.036 and the same 0.45 threshold clears ~12 sigma — the guardrail
    stays silent and dedup output stays ~linear."""
    import warnings

    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(768)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", s.NoiseFloorWarning)
        gap = s.warn_if_threshold_in_noise_floor(emb, 0.45)
    assert gap >= 6.0, f"dim-768 sigma gap {gap:.2f} unexpectedly low"


def test_noise_floor_estimate_is_memoized(spark):
    """Composites gate twice on the same frame; the sample job must run
    once (the ADVICE r08 #2 eager-count lesson applied to the new
    guardrail)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", s.NoiseFloorWarning)
        g1 = s.warn_if_threshold_in_noise_floor(emb, 0.45)
    assert emb in s._NOISE_FLOOR_CACHE
    # poison the cache: a second call must READ it, not recompute
    # (key = (vec_col, id_col, sample) — a different sample size or id
    # column is a different deterministic draw and must NOT hit this)
    s._NOISE_FLOOR_CACHE[emb][("embedding", "vec_id", 256)] = (0.0, 0.001)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", s.NoiseFloorWarning)
        g2 = s.warn_if_threshold_in_noise_floor(emb, 0.45)
    assert g2 != g1 and g2 == pytest.approx(450.0)


def test_pq_encode_udf_bit_identical_to_fold(spark):
    """The Arrow numpy PQ encode must agree code-for-code with the
    Catalyst fold form on the whole corpus — the bit-exactness argument
    in pq_encode_udf's docstring, pinned (r09; the encode swap halved
    sim_ann_ivfpq's runtime and the oracle replays the FOLD arithmetic,
    so any divergence would surface as a driver hash mismatch)."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    books = s.pq_codebooks(16, 16, 64, seed=11)
    fold = {
        r.vec_id: tuple(r.c)
        for r in emb.select(
            "vec_id", s.pq_encode_col("embedding", books, 64).alias("c")
        ).collect()
    }
    udf = {
        r.vec_id: tuple(r.c)
        for r in emb.select(
            "vec_id", s.pq_encode_udf(books, 64)(F.col("embedding")).alias("c")
        ).collect()
    }
    assert fold == udf


def test_noise_floor_estimator_handles_empty_corpus(spark):
    """Review r09: an empty (or 1-row) corpus has no pairs — the
    estimator must return (0, 0) instead of crashing on a 0-d numpy
    shape, and the guardrail must let construction proceed (gap inf,
    no warning)."""
    import warnings

    empty = spark.createDataFrame([], "vec_id: long, embedding: array<double>")
    assert s.estimate_noise_floor(empty) == (0.0, 0.0)
    with warnings.catch_warnings():
        warnings.simplefilter("error", s.NoiseFloorWarning)
        assert s.warn_if_threshold_in_noise_floor(empty, 0.45) == float("inf")


def test_ivf_build_memo_hits_across_fresh_frames(spark):
    """VERDICT r09 #2 pin: the deterministic IVF build is memoized per
    (semantic plan, params) so the ANN family (sim_ann_ivf / sim_ann_ivfpq
    / sim_ann_ivfpq_recall) builds the index ONCE per session — a fresh
    load_table frame over the SAME path must HIT (sameSemantics, not
    object identity), a different path or different params must MISS, and
    the hit must return the bit-identical matrix (the hash-checked oracle
    replays the build from literals, so any drift is a driver mismatch)."""
    import numpy as np

    s.clear_ivf_build_cache()
    emb1 = load_table(spark, SF_ORACLE, "embeddings")
    emb2 = load_table(spark, SF_ORACLE, "embeddings")
    a = s.ivf_centroids(emb1)
    n = len(s._IVF_BUILD_CACHE)
    b = s.ivf_centroids(emb2)
    assert len(s._IVF_BUILD_CACHE) == n, "same-path fresh frame missed the memo"
    assert np.array_equal(a, b)
    s.ivf_centroids(emb2, seed=8)
    assert len(s._IVF_BUILD_CACHE) == n + 1, "different params must be a fresh build"
    # returned arrays are copies: caller mutation must not poison the memo
    b[0, 0] += 1.0
    c = s.ivf_centroids(load_table(spark, SF_ORACLE, "embeddings"))
    assert np.array_equal(a, c)
    s.clear_ivf_build_cache()
    assert len(s._IVF_BUILD_CACHE) == 0


def test_ivf_build_memo_evicts_dead_entries(spark):
    """ADVICE r10 #1: an entry whose sameSemantics check RAISES (stale
    session / Connect frame) can never hit again — the lookup must evict
    it instead of letting dead frames occupy the FIFO slots and re-raise
    on every call."""
    import numpy as np

    class _Raises:
        def sameSemantics(self, other):  # pragma: no cover - signature only
            raise RuntimeError("dead session")

    s.clear_ivf_build_cache()
    emb = load_table(spark, SF_ORACLE, "embeddings")
    a = s.ivf_centroids(emb)
    # plant a dead entry with the SAME params ahead of the live one
    params = (16, 1, 7, "vec_id", "embedding")
    s._IVF_BUILD_CACHE.insert(0, (_Raises(), params, np.zeros((16, 64))))
    n = len(s._IVF_BUILD_CACHE)
    b = s.ivf_centroids(load_table(spark, SF_ORACLE, "embeddings"))
    assert np.array_equal(a, b), "live entry must still hit past the dead one"
    assert len(s._IVF_BUILD_CACHE) == n - 1, "dead entry must be evicted"
    assert not any(isinstance(e[0], _Raises) for e in s._IVF_BUILD_CACHE)
    s.clear_ivf_build_cache()


def test_noise_floor_bound_inert_at_oracle_sfs(spark):
    """VERDICT r10 #1 inertness pin: the bounded-output resolution must
    NOT fire at the oracle-checked SFs — every recorded hash depends on
    the configured 0.45 threshold surviving there. Measured chance load:
    ~0.04 pairs/doc at sf0.01 and ~0.16 at sf0.1 vs the 0.5 budget
    (>= 3x margin), and both inputs to the decision (the exact count,
    the md5-sample floor estimate) are deterministic per corpus."""
    for sf in (SF_ORACLE, "/root/testdata/sf0.1"):
        emb = load_table(spark, sf, "embeddings")
        thr, fired = s.resolve_noise_floor_bound(emb, 0.45)
        assert (thr, fired) == (0.45, False), sf


def test_noise_floor_bound_plan_unchanged_when_inert(spark):
    """With the resolution inert, bound_noise_floor=True must yield the
    SEMANTICALLY IDENTICAL plan to the unbounded call — the composite's
    plan census and oracle hashes cannot move at gate SFs."""
    import warnings

    emb = load_table(spark, SF_ORACLE, "embeddings")
    kw = dict(threshold=0.45, planes_per_table=3, n_tables=16, hold_occupancy=True)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", s.NoiseFloorWarning)
        bounded = s.cosine_pairs_lsh(emb, bound_noise_floor=True, **kw)
        plain = s.cosine_pairs_lsh(emb, **kw)
    assert bounded.sameSemantics(plain)


def test_noise_floor_bound_fires_deterministically_past_budget(spark):
    """Past the chance-pair budget the threshold must raise to the
    ceil'd sigma point, identically on repeated resolution (the
    keep-list stays replayable), and every emitted pair must satisfy
    the RAISED threshold exactly (precision-1 verify is unchanged)."""
    import warnings

    import numpy as np

    rng = np.random.default_rng(5)
    # dim-16 random vectors: sd ~ 0.25, so 0.45 sits ~1.8 sigma out and
    # even 600 rows blow a 0.5/doc chance budget
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(600)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    t1, f1 = s.resolve_noise_floor_bound(emb, 0.45)
    t2, f2 = s.resolve_noise_floor_bound(emb, 0.45)
    assert (t1, f1) == (t2, f2)
    assert f1 is True and t1 > 0.45
    mean, sd = s._noise_floor_cached(emb, "vec_id", "embedding", 256)
    import math as m

    assert t1 == m.ceil((mean + 6.0 * sd) * 100.0 - 1e-9) / 100.0
    assert (t1 - mean) / sd >= 6.0  # the ceil keeps the sigma guarantee
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = s.cosine_pairs_lsh(
            emb, threshold=0.45, planes_per_table=2, n_tables=8, dim=16,
            hold_occupancy=True, bound_noise_floor=True,
        ).collect()
    vecs = {r[0]: np.asarray(r[1]) for r in rows}

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))

    assert all(cos(r.a_id, r.b_id) >= t1 - 1e-12 for r in got)


def test_kcenter_select_matches_numpy_replay(spark):
    """r11: the greedy k-center trajectory (seed = lowest id, then
    argmax of the latticed nearest-center distance, ties to lowest id)
    must replay exactly in a driver-side numpy greedy — same rounds,
    same ids, same float64 vectors. The replay accumulates per-dim
    squared diffs SEQUENTIALLY (one vectorized add per dim) so its fold
    order is the engine's pinned left fold, and compares on the same
    integer-nanos lattice."""
    import numpy as np

    s.clear_ivf_build_cache()
    emb = load_table(spark, SF_ORACLE, "embeddings")
    sel = s.kcenter_select(emb, k=8)

    rows = emb.select("vec_id", "embedding").collect()
    order = sorted(range(len(rows)), key=lambda i: rows[i]["vec_id"])
    ids = [rows[i]["vec_id"] for i in order]
    V = np.array(
        [[float(x) for x in rows[i]["embedding"]] for i in order],
        dtype=np.float64,
    )

    def lat_dists(center: np.ndarray) -> np.ndarray:
        sq = (V - center) * (V - center)
        acc = np.zeros(len(V), dtype=np.float64)
        for d in range(V.shape[1]):  # engine's left fold, one term at a time
            acc = acc + sq[:, d]
        return np.floor(acc * 1e9 + 0.5).astype(np.int64)

    expect = [(1, ids[0], [float(x) for x in V[0]])]
    taken = {0}
    dmin = lat_dists(V[0])
    for t in range(2, 9):
        best = max(
            (i for i in range(len(ids)) if i not in taken),
            key=lambda i: (dmin[i], -ids[i]),
        )
        taken.add(best)
        expect.append((t, ids[best], [float(x) for x in V[best]]))
        dmin = np.minimum(dmin, lat_dists(V[best]))

    assert [(r, i) for r, i, _ in sel] == [(r, i) for r, i, _ in expect]
    for (_, _, va), (_, _, vb) in zip(sel, expect):
        assert va == vb  # exact float64 equality — literals feed the oracle


def test_kcenter_select_is_memoized_and_guards_small_corpus(spark):
    """The selection shares the IVF build cache ('kcenter'-tagged key):
    a fresh frame over the same path must HIT (no extra entry, equal
    trajectory), and a corpus with fewer than k distinct ids must raise
    rather than loop or re-select a center."""
    import pytest as _pytest

    s.clear_ivf_build_cache()
    a = s.kcenter_select(load_table(spark, SF_ORACLE, "embeddings"), k=8)
    n = len(s._IVF_BUILD_CACHE)
    b = s.kcenter_select(load_table(spark, SF_ORACLE, "embeddings"), k=8)
    assert len(s._IVF_BUILD_CACHE) == n, "same-path fresh frame missed the memo"
    assert a == b

    tiny = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id: long, embedding: array<double>",
    )
    with _pytest.raises(ValueError, match="fewer than k"):
        s.kcenter_select(tiny, k=8)
    s.clear_ivf_build_cache()


def test_mmr_rerank_diversifies_and_is_deterministic(spark):
    """r11: MMR picks must (a) keep round 1 == the plain cosine top-1,
    (b) stay inside the top-25 candidate set, (c) actually DIVERSIFY —
    differ from the plain top-5 for at least one query (w_div pulls a
    redundant neighbor out), and (d) be bit-stable across runs (the
    greedy is integer arithmetic on latticed cosines; a flaky pick
    would hash-mismatch at the driver)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_mmr_rerank,
        sim_ann_bruteforce,
    )

    got = sim_mmr_rerank(spark, SF_ORACLE).collect()
    again = sim_mmr_rerank(spark, SF_ORACLE).collect()
    key = lambda r: (r.query_id, r.round)
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.round] = r.neighbor_id
    assert len(by_q) == 20 and all(len(v) == 5 for v in by_q.values())

    top5 = {}
    for r in sim_ann_bruteforce(spark, SF_ORACLE).collect():
        top5.setdefault(r.query_id, {})[r.rank] = r.neighbor_id
    # round 1 is pure relevance == brute-force rank 1 (identical lattice
    # ordering at rank 1; deeper ranks may differ only on latticed ties)
    assert all(by_q[q][1] == top5[q][1] for q in by_q)
    # diversification engages somewhere: the 5 MMR picks are not the
    # plain top-5 for every query
    assert any(
        set(by_q[q].values()) != set(top5[q].values()) for q in by_q
    ), "MMR never diverged from plain top-5 — w_div is inert"


def test_mmr_reduces_to_plain_topk_when_diversity_off(spark):
    """Semantic pin: with w_div=0 the MMR greedy degenerates to plain
    relevance order — picks 1..k must equal the latticed top-k ranking
    (ties to lowest id). Exercises the operator off the registry
    defaults, so a weight-plumbing bug can't hide behind the oracle."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_ORACLE, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 20)
    queries = emb.filter(F.col("vec_id") < 20)
    got = s.mmr_rerank(
        corpus, queries, n_candidates=10, k=4, w_rel=1, w_div=0
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.round] = r.neighbor_id

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.similarity import (
        cosine,
    )
    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("latq").desc(), F.col("cand_id")
    )
    ranked = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "cand_id",
            F.floor(cosine(F.col("cv"), F.col("qv")) * 1e9 + F.lit(0.5))
            .cast("long")
            .alias("latq"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .collect()
    )
    expect = {}
    for r in ranked:
        expect.setdefault(r.query_id, {})[r.rn] = r.cand_id
    assert by_q == expect


def test_kcenter_and_mmr_handle_duplicate_vectors(spark):
    """Degenerate corpora: exact-duplicate vectors drive every remaining
    lattice distance to 0 (k-center) / every pair cosine to 1e9 nanos
    (MMR). k-center must still select k DISTINCT ids (the explicit
    exclusion, lowest-id ties) and MMR must still emit k distinct picks
    per query."""
    dup = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)]
        + [(6, [0.0, 1.0, 0.0, 0.0])],
        "vec_id: long, embedding: array<double>",
    )
    s.clear_ivf_build_cache()
    sel = s.kcenter_select(dup, k=4)
    assert [cid for _, cid, _ in sel] == [0, 6, 1, 2], (
        "seed=lowest id, round 2 = the one distant point, then "
        "zero-distance ties resolve to the lowest remaining ids"
    )

    # MMR fixture where diversity genuinely wins round 2 (a zero-relevance
    # outlier would correctly LOSE to a relevant duplicate at lambda=0.6):
    # A-dups (ids 1-3) and B (id 6) are equally relevant to q (cos 0.8,
    # round-1 tie resolves to id 1), but sim(A,B)=0.28 << sim(A,A)=1, so
    # round 2 scores 3*0.8 - 2*0.28 = 1.84 (B) vs 3*0.8 - 2*1 = 0.4 (A-dup).
    mset = spark.createDataFrame(
        [(0, [1.0, 0.0])]
        + [(i, [0.8, 0.6]) for i in (1, 2, 3)]
        + [(6, [0.8, -0.6])],
        "vec_id: long, embedding: array<double>",
    )
    got = s.mmr_rerank(
        mset.filter("vec_id >= 1"),
        mset.filter("vec_id = 0"),
        n_candidates=4,
        k=3,
    ).collect()
    picks = sorted((r.round, r.neighbor_id) for r in got)
    assert len({n for _, n in picks}) == 3, picks
    # round 1 = lowest-id A-dup; round 2 = B (diversity beats redundancy
    # at equal relevance); round 3 = lowest remaining A-dup
    assert picks == [(1, 1), (2, 6), (3, 2)], picks
    s.clear_ivf_build_cache()


def test_mmr_ann_composes_lsh_tier_and_stays_deterministic(spark):
    """r12 (VERDICT r11 #1): the ANN-composed MMR — candidates from the
    LSH collision tier instead of the brute-force scan. Pins: (a)
    bit-stable across runs; (b) round-1 picks agree with the exact
    rerank's round-1 for most queries (LSH recall at rank 1 is high —
    the 12-table OR-amplification; total disagreement would mean the
    collision join is broken, silent full agreement is already covered
    by the oracle); (c) every query emits distinct picks with
    contiguous rounds starting at 1."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_mmr_ann,
        sim_mmr_rerank,
    )

    got = sim_mmr_ann(spark, SF_ORACLE).collect()
    again = sim_mmr_ann(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, {})[r.round] = r.neighbor_id
    for q, rounds in by_q.items():
        assert sorted(rounds) == list(range(1, len(rounds) + 1)), (q, rounds)
        assert len(set(rounds.values())) == len(rounds), (q, rounds)

    exact1 = {
        r.query_id: r.neighbor_id
        for r in sim_mmr_rerank(spark, SF_ORACLE).collect()
        if r.round == 1
    }
    agree = sum(1 for q, rounds in by_q.items() if rounds.get(1) == exact1.get(q))
    assert agree >= len(exact1) * 0.5, (
        f"ANN round-1 agrees with exact on only {agree}/{len(exact1)} "
        "queries — collision candidate stage looks broken"
    )


def test_mmr_excludes_zero_norm_vectors(spark):
    """ADVICE r11 #2: a zero vector lattices to a NULL cosine and must
    be dropped BEFORE the Arrow greedy (where it would be NaN/inf in
    the pair cosines and a raise in the int64 cast) — never picked,
    never crashing. A zero-norm QUERY drops its whole group."""
    mset = spark.createDataFrame(
        [(0, [1.0, 0.0]), (9, [0.0, 0.0])]  # queries: real + zero-norm
        + [(10, [0.9, 0.1]), (11, [0.0, 0.0]), (12, [0.5, 0.5])],
        "vec_id: long, embedding: array<double>",
    )
    corpus = mset.filter("vec_id >= 10")
    queries = mset.filter("vec_id < 10")
    got = s.mmr_rerank(corpus, queries, n_candidates=25, k=5).collect()
    assert {r.query_id for r in got} == {0}, "zero-norm query must drop"
    assert 11 not in {r.neighbor_id for r in got}, "zero-norm candidate picked"
    assert sorted((r.round, r.neighbor_id) for r in got) == [(1, 10), (2, 12)]


def test_mmr_truncates_when_corpus_smaller_than_k(spark):
    """A query whose candidate pool is smaller than k must emit exactly
    n picks (rounds 1..n), not pad or crash — the greedy loop bounds at
    min(k, n)."""
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id: long, embedding: array<double>",
    )
    got = s.mmr_rerank(
        tiny.filter("vec_id >= 1"), tiny.filter("vec_id = 0"),
        n_candidates=25, k=5,
    ).collect()
    assert sorted((r.round, r.neighbor_id) for r in got) == [(1, 1), (2, 2)]


def test_mmr_arrow_twin_is_output_identical(spark):
    """r13 (VERDICT r12 #2): the applyInArrow MMR tail must be
    bit-identical to the applyInPandas production path on the registry
    inputs, and its plan must carry a FlatMapGroupsInArrow node — the
    last census-visible Python-stage node to be exercised (SURVEY
    §5.10a) — never the pandas grouped node. Both legs share
    _mmr_greedy_core, so a divergence means the batch transports
    disagree on sort/lattice, which would hash-mismatch at the driver."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.inspect import (
        formatted_plan,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_mmr_arrow,
        sim_mmr_rerank,
    )

    arrow = sim_mmr_arrow(spark, SF_ORACLE)
    plan = formatted_plan(arrow)
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    got = sorted(map(tuple, arrow.collect()))
    twin = sorted(map(tuple, sim_mmr_rerank(spark, SF_ORACLE).collect()))
    assert got == twin


def test_mmr_arrow_tail_handles_degenerate_groups(spark):
    """The arrow tail's flatten/reshape path must survive the same
    degenerate shapes the pandas leg is pinned on: a single-candidate
    group (1-row table), a pool smaller than k (truncated rounds), and
    zero-norm vectors dropped before the stage."""
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id: long, embedding: array<double>",
    )
    got = s.mmr_rerank(
        tiny.filter("vec_id >= 1"), tiny.filter("vec_id = 0"),
        n_candidates=25, k=5, arrow_tail=True,
    ).collect()
    assert sorted((r.round, r.neighbor_id) for r in got) == [(1, 1), (2, 2)]
    one = s.mmr_rerank(
        tiny.filter("vec_id = 1"), tiny.filter("vec_id = 0"),
        n_candidates=25, k=5, arrow_tail=True,
    ).collect()
    assert [(r.round, r.neighbor_id) for r in one] == [(1, 1)]


def test_mmr_oracle_clamp_agrees_on_degenerate_vectors(spark, tmp_path):
    """ADVICE r12 #1, proven END-TO-END rather than left inert: on a
    corpus that actually CONTAINS zero-norm and NULL-element embeddings
    (no testdata SF does), the Spark query and the DuckDB oracle must
    still agree — the oracle's e-CTE clamp and the Spark side's
    _nonzero_vec + latq filters define the same candidate universe.
    Builds a tiny embeddings parquet with both degenerate shapes mixed
    into queries AND corpus, then runs the same comparator the driver
    uses, for both MMR variants and the arrow twin."""
    import math
    import random

    import duckdb

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        sim_mmr_ann,
        sim_mmr_arrow,
        sim_mmr_rerank,
    )
    from .oracle_utils import compare

    rng = random.Random(13)
    rows = []
    for vid in range(60):
        if vid in (3, 25):  # zero-norm: one query-side, one corpus-side
            vec = [0.0] * 64
        elif vid in (7, 31):  # NULL-element (nonzero elsewhere)
            vec = [rng.uniform(-1, 1) for _ in range(64)]
            vec[5] = None
        else:
            vec = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((vid, vec, vid % 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        all_oracles,
    )

    oracles = all_oracles()
    for name, fn in (
        ("sim_mmr_rerank", sim_mmr_rerank),
        ("sim_mmr_arrow", sim_mmr_arrow),
        ("sim_mmr_ann", sim_mmr_ann),
    ):
        out = fn(spark, str(tmp_path))
        problems = compare(out, con, oracles[name])
        assert not problems, f"{name} on degenerate corpus: {problems}"
        got = out.collect()
        qids = {r.query_id for r in got}
        assert 3 not in qids, f"{name}: zero-norm query ranked"
        assert 7 not in qids, f"{name}: NULL-element query ranked"
        picks = {r.neighbor_id for r in got}
        assert 25 not in picks and 31 not in picks, (
            f"{name}: degenerate corpus vector picked"
        )
    con.close()


def test_minhash_lsh_matches_pure_python_replay(spark):
    """r15 hardening (the shared-construction risk, same standard as the
    langid/KMV/theta replays): dedup_minhash_lsh's DuckDB oracle replays
    the SAME md5-base + permutation arithmetic with the SAME coefficients
    the engine uses, so a conceptual bug in the pipeline (hash substring
    window, modulus placement, band tupling, verify arithmetic) would
    agree on both sides of the parity gate. Replay the ENTIRE pipeline —
    tokenize, shingle, hash every shingle with hashlib directly, run the
    permutation mins in Python ints, band with Python tuples, verify
    exact Jaccard from Python sets — over the sf0.001 corpus and demand
    the identical (pair set, jaccard) surface. Only the coefficient
    LIST is shared (coefficients are data: any valid values work, and
    all three implementations must agree on which ones are in use)."""
    import hashlib

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        _MERSENNE,
        _perm_coeffs,
    )

    num_perm, bands, n, thr = 48, 12, 3, 0.8
    rows_per_band = num_perm // bands
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    a_co, b_co = _perm_coeffs(num_perm, seed=42)

    # Tokenization mirrors word_shingles exactly: Spark trim strips
    # SPACE only; Java's default \s is ASCII-only (the langid replay's
    # documented conventions).
    def shingle_set(text: str | None) -> set[str]:
        if text is None:
            return set()
        toks = text.strip(" ").lower()
        toks = __import__("re").split("[ \t\n\x0b\f\r]+", toks)
        if len(toks) < n:
            return set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {doc_id: shingle_set(text) for doc_id, text in rows}
    sets = {i: s for i, s in sets.items() if s}

    def signature(sh: set[str]) -> list[int]:
        bases = [
            int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % _MERSENNE for w in sh
        ]
        return [
            min((a_co[i] * b + b_co[i]) % _MERSENNE for b in bases)
            for i in range(num_perm)
        ]

    sigs = {i: signature(s) for i, s in sets.items()}
    buckets: dict[tuple, list[int]] = {}
    for doc_id, sig in sigs.items():
        for bi in range(bands):
            key = (bi, *sig[bi * rows_per_band : (bi + 1) * rows_per_band])
            buckets.setdefault(key, []).append(doc_id)
    cands = {
        (a, b)
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
    }
    expect = {}
    for a, b in cands:
        common = len(sets[a] & sets[b])
        j = common / (len(sets[a]) + len(sets[b]) - common)
        if j >= thr:
            expect[(a, b)] = j

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
        dedup as ops,
    )

    shingled = d.word_shingles(docs)
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in ops.minhash_lsh_pairs(shingled, threshold=thr).collect()
    }
    assert expect, "testdata should contain seeded near-dup pairs"
    assert set(got) == set(expect), sorted(set(got) ^ set(expect))[:10]
    diffs = {p: (got[p], expect[p]) for p in got if got[p] != expect[p]}
    assert not diffs, dict(list(diffs.items())[:5])


def test_simhash_matches_pure_python_replay(spark):
    """r15 hardening, same shared-construction standard: dedup_simhash's
    oracle replays the engine's md5-half features, 64 bit-sums, sign
    fold, chunk pigeonhole join and popcount verify with the same SQL
    shapes — so replay the ENTIRE pipeline in pure Python (hashlib
    halves, multiplicity-preserving word counts, Python-int folds and
    chunking) over the sf0.001 corpus and demand the identical
    (pair, hamming) surface."""
    import hashlib
    import re

    max_hamming, n_chunks = 3, 8
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]

    def signature(text: str) -> tuple[int, int]:
        # Engine explodes EVERY split token (no distinct, no empty-token
        # filter) — multiplicity and ""-tokens must count here too.
        words = re.split("[ \t\n\x0b\f\r]+", text.strip(" ").lower())
        sums_lo, sums_hi = [0] * 32, [0] * 32
        for w in words:
            digest = hashlib.md5(w.encode()).hexdigest()
            hlo, hhi = int(digest[:8], 16), int(digest[8:16], 16)
            for j in range(32):
                sums_lo[j] += 1 if (hlo >> j) & 1 else -1
                sums_hi[j] += 1 if (hhi >> j) & 1 else -1
        lo = sum(1 << j for j in range(32) if sums_lo[j] > 0)
        hi = sum(1 << j for j in range(32) if sums_hi[j] > 0)
        return lo, hi

    sigs = {doc_id: signature(text) for doc_id, text in rows if text is not None}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, (lo, hi) in sigs.items():
        for c in range(n_chunks):
            half, off = (lo, 8 * c) if c < 4 else (hi, 8 * (c - 4))
            buckets.setdefault((c, (half >> off) & 0xFF), []).append(doc_id)
    expect = {}
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                x, y = (a, b) if a < b else (b, a)
                if (x, y) in expect:
                    continue
                h = bin(sigs[x][0] ^ sigs[y][0]).count("1") + bin(
                    sigs[x][1] ^ sigs[y][1]
                ).count("1")
                if h <= max_hamming:
                    expect[(x, y)] = h

    got = {
        (r.a_id, r.b_id): r.hamming
        for r in d.simhash_pairs(docs, max_hamming=max_hamming).collect()
    }
    assert expect, "testdata should contain seeded near-dup pairs"
    assert got == expect, (
        len(got), len(expect), sorted(set(got) ^ set(expect))[:10],
    )
