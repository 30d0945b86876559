"""Dedup queries over the ``documents`` / ``embeddings`` tables.

Oracle notes:
- n-gram Jaccard is fully SQL-expressible (inverted shingle index join);
  jaccard = common/(|A|+|B|-common) is int/int division => exact doubles.
- MinHash-LSH, SimHash, and the embedding-LSH path are fully
  oracle-checked: every hash is md5-derived or a seeded literal
  (engine-portable), so DuckDB replays each pipeline end-to-end —
  signatures/banding/candidate joins/exact verify — with the same
  coefficients inlined as literals.
- Embedding cosine: both engines fold left-to-right in double precision
  (verified bit-exact), so the pair set is oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as ops
from ..operators.dedup import _MERSENNE, _perm_coeffs
from ..operators.similarity import (
    _hyperplanes,
    corpus_count,
    cosine_pairs,
    cosine_pairs_lsh,
    warn_if_threshold_in_noise_floor,
)
from ..operators.text import BPE_PATTERN
from ..sources import load_table

# BPE pattern for SQL oracles: doubled quote for a SQL string literal.
_BPE_SQL = BPE_PATTERN.replace("'", "''")

# MinHash oracle building blocks: the SAME permutation coefficients the
# Spark operator uses (seed 42), inlined as SQL literals, and the same
# md5-derived base/band hashes — the oracle replays the pipeline exactly.
_MH_A, _MH_B = _perm_coeffs(48, seed=42)
_MH_SIG_EXPRS = ",\n    ".join(
    f"min((h * {_MH_A[i]} + {_MH_B[i]}) % {_MERSENNE}) AS h{i}" for i in range(48)
)
# Band key = the raw signature tuple (mirrors the operator; equality of
# the tuple is candidate-identical to any hash of it).
_MH_BAND_SELECTS = "\n  UNION ALL ".join(
    "SELECT doc_id, {bi} AS band_idx, {cols} FROM sig".format(
        bi=bi, cols=", ".join(f"h{bi * 4 + r} AS k{r}" for r in range(4))
    )
    for bi in range(12)
)
_MH_BAND_JOIN = " AND ".join(f"a.k{r} = b.k{r}" for r in range(4))

# Embedding-LSH oracle building blocks: the operator's seeded hyperplanes
# (seed 7, 16 tables x 3 planes) as SQL double literals; repr() round-trips
# float64 exactly, so both engines compute identical sign bits away from
# the ~1e-16 dot boundary (which the seeded testdata never hits).
_EMB_TABLES, _EMB_PLANES_PER = 16, 3
_EMB_PLANES = _hyperplanes(_EMB_TABLES * _EMB_PLANES_PER, 64, seed=7)


def _emb_bucket_sql(t: int) -> str:
    terms = []
    for j in range(_EMB_PLANES_PER):
        lit = "[" + ", ".join(repr(x) for x in _EMB_PLANES[t * _EMB_PLANES_PER + j]) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


_EMB_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT vec_id, {t} AS table_idx, ({_emb_bucket_sql(t)}) AS bucket FROM e"
    for t in range(_EMB_TABLES)
)

# SimHash oracle building blocks: 64 per-bit +-1 sums over the two md5
# halves, signature fold, and 8-chunk pigeonhole extraction.
_SH_BIT_SUMS = ",\n    ".join(
    f"sum(CASE WHEN ({col} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS {pre}{j}"
    for col, pre in (("hlo", "lo"), ("hhi", "hi"))
    for j in range(32)
)
_SH_FOLD_LO = " + ".join(f"(CASE WHEN lo{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
_SH_FOLD_HI = " + ".join(f"(CASE WHEN hi{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
_SH_CHUNKS = "\n  UNION ALL ".join(
    f"SELECT doc_id, sig_lo, sig_hi, {c} AS chunk_idx, "
    + (
        f"(sig_lo >> {c * 8}) & 255 AS chunk FROM sig"
        if c < 4
        else f"(sig_hi >> {(c - 4) * 8}) & 255 AS chunk FROM sig"
    )
    for c in range(8)
)

JACCARD_THRESHOLD = 0.8
CONTAINMENT_THRESHOLD = 0.9
COSINE_THRESHOLD = 0.4
# Bucketed variant runs at a higher threshold: the testdata pair-cosine
# distribution is continuous through 0.4 (no similarity gap), and sign-bit
# LSH cannot losslessly separate 66-degree pairs from the 90-degree random
# background — see operators.similarity.cosine_pairs_lsh regime notes.
COSINE_LSH_THRESHOLD = 0.45
# dedup_semdedup: expected rows per k-means cluster (2000 vectors / 8
# centroids at sf0.1 = the oracle-pinned design point).
_SEMDEDUP_TARGET_CLUSTER_ROWS = 250

# DuckDB shingle CTE mirroring operators.dedup.word_shingles (3-gram, distinct)
_SHINGLE_CTE = """
docs AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM docs, UNNEST(range(1, len(w) - 1)) t(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by full text: representative id + multiplicity."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.exact_dedup(docs, ["text"], "doc_id").select(
        "doc_id", "n_copies", F.length("text").alias("text_len")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (>= 0.8) via inverted index."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = ops.word_shingles(docs)
    return ops.jaccard_pairs(shingled, threshold=JACCARD_THRESHOLD)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-containment pairs (|A∩B|/|A| >= 0.9): snippets
    swallowed by longer documents — low-Jaccard duplication that
    dedup_ngram_jaccard structurally cannot see (see
    operators.dedup.containment_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = ops.word_shingles(docs)
    return ops.containment_pairs(shingled, threshold=CONTAINMENT_THRESHOLD)


def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup: the "new crawl" (sources src10..src19)
    deduped against the existing reference corpus (src0..src9) — band
    join is new x ref ONLY (see operators.dedup.minhash_lsh_pairs_cross;
    within-side pairs are deliberately not generated)."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    new_sh = ops.word_shingles(docs.filter(src_num >= 10))
    ref_sh = ops.word_shingles(docs.filter(src_num < 10))
    return ops.minhash_lsh_pairs_cross(
        new_sh, ref_sh, num_perm=48, bands=12, threshold=JACCARD_THRESHOLD
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the 3-gram Jaccard pair graph closed under
    transitivity (connected components, min-id representative). Every
    document gets a cluster_id — its own id if it has no near-dups. The
    oracle replays the same shingle/pair pipeline and closes it with a
    recursive CTE, so the iterative Spark loop is hash-checked
    end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ops.jaccard_pairs(ops.word_shingles(docs), threshold=JACCARD_THRESHOLD)
    return ops.connected_components(
        pairs.select("a_id", "b_id"), docs.select("doc_id")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (48 perms, 12x4 bands) candidates verified by exact
    Jaccard. Fully oracle-checked: md5-based hashing makes every stage
    (signatures, banding, candidate join, verify) engine-portable, so
    DuckDB replays the identical pipeline — recall vs the exact pair set
    is additionally pinned in tests/test_dedup_similarity.py."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = ops.word_shingles(docs)
    return ops.minhash_lsh_pairs(shingled, threshold=JACCARD_THRESHOLD)


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall as a hash-checked FACT — the dedup mirror of
    the ANN family's recall reports (sim_ann_recall et al.): one row of
    (n_exact_pairs, n_lsh_pairs, n_hits, recall) comparing the banded
    LSH pair set against the exact Jaccard ≥ 0.8 ground truth. The
    left-join hit marking also proves the subset property in-band
    (precision 1: every LSH pair is exact-verified, so n_hits ==
    n_lsh_pairs) — the number every band/perm tuning loop reads, now
    engine-reproducible instead of a pytest-only pin.

    Plan: the shingle table is computed once (persist) and feeds both
    legs; the recall join touches only the two pair sets. The oracle
    nests the two already-hash-checked pipelines verbatim as derived
    tables, so a drift in either leg is a hash mismatch here too."""
    from ..functions.numeric import display_round

    docs = load_table(spark, sf_dir, "documents")
    shingled = ops.word_shingles(docs).persist()
    exact = ops.jaccard_pairs(shingled, threshold=JACCARD_THRESHOLD).select(
        "a_id", "b_id"
    )
    lsh = ops.minhash_lsh_pairs(shingled, threshold=JACCARD_THRESHOLD).select(
        "a_id", "b_id", F.lit(1).alias("_hit")
    )
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    j = exact.join(lsh, ["a_id", "b_id"], "left")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
    )
    return agg.crossJoin(F.broadcast(n_lsh)).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        "n_hits",
        display_round(
            F.col("n_hits").cast("double")
            / F.nullif(F.col("n_exact_pairs").cast("double"), F.lit(0.0)),
            9,
        ).alias("recall"),
    )


def dedup_stream_store_recheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming==batch dedup convergence as ONE hash-checked report
    (r15, VERDICT r14 #2a): documents arrive on a THREE-wave file
    stream (deterministic ``doc_id % 3`` arrival split; each wave lands
    while the query runs and is drained as one micro-batch), the
    MinHash ingest leg
    (``streaming.jobs.minhash_ingest_stream``) profiles each batch into
    the exactly-once ``batch_id=N`` store, and the keep-list recheck
    runs over the STORE's accumulated profiles: banded LSH pairs →
    drop the b-side → survivor census with an order-independent id
    digest (count + id sum + md5-prefix sum = a set-equality proof).

    The DuckDB oracle knows nothing about the stream: it replays the
    ONE-SHOT batch pipeline (the already-hash-checked dedup_minhash_lsh
    SQL) and the same survivor census, so the driver's hash match
    PROVES the incrementally built store converges to batch dedup
    end-to-end — profile coverage (``n_profiled``), the pair set, the
    drop set, and the exact survivor id SET. ``n_ingest_batches`` is
    measured from the store's delivery partitions (3 whenever every
    residue class holds a profile-eligible doc — true at all testdata
    SFs; the oracle derives the same count from the classes rather than
    pinning a literal), pinning that the corpus really arrived
    incrementally rather than in one batch.

    At 100 TB: the expensive shingle+hash profiling happens once per
    document at ARRIVAL (map-side, per micro-batch); the recheck probes
    profile rows (~48 ints + the shingle set each), never re-scanning
    raw text; the banded candidate join is the bucketed
    minhash_lsh_pairs_from_profiles plan (guarded scale-safe in
    tests/test_streaming_stores.py per the ADVICE r14 #3 pattern,
    since the registry-visible frame here is the bounded 1-row local
    report — the stream must complete before the numbers exist, the
    same execute-inside-the-builder contract as rel_observe_metrics).
    """
    import os
    import shutil
    import tempfile

    from ..streaming import jobs

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="mh_recheck_")
    store_df = None
    pairs = None
    try:
        src = f"{tmp}/src"
        store = f"{tmp}/store"
        # Arrival waves land WHILE the query runs and are drained one
        # wave at a time — each drain is one micro-batch regardless of
        # how many part files the wave wrote, so the splits keep their
        # natural parallel write (an earlier coalesce(1)-per-wave
        # staging funneled the text column through one task per wave).
        # Each wave is staged OUTSIDE the watched glob and enters it as
        # one atomic directory rename: appending part-files directly
        # would expose them one job-commit rename at a time, and the
        # running query's ~10ms idle listing could catch a half-landed
        # wave and split it into two micro-batches (n_ingest_batches=4
        # while the oracle derives 3).
        # Ladder (same-window control run): k1 15.5 s -> k25 31.6 s,
        # slope 0.233 with the batch pipeline at 14.5 s — the composite
        # is ~16 s of fixed streaming machinery plus sublinear growth.
        #
        # All three waves are written in ONE partitionBy pass (r15
        # optimization, guide §2.4/§6): three per-wave filter+write jobs
        # re-scanned the full documents table three times; one
        # partitioned write scans it once and lands the identical row
        # split as _res=0/1/2 subdirectories (the partition column lives
        # in the directory name, so the files keep exactly docs.schema).
        # Waves still enter the watched glob one rename at a time.
        os.makedirs(src)
        stage = f"{tmp}/stage"
        docs.withColumn("_res", F.pmod(F.col("doc_id"), F.lit(3))).write.partitionBy(
            "_res"
        ).parquet(stage)

        def land(i: int) -> None:
            # A residue class with zero rows emits NO _res=i directory
            # from the partitioned write (ADVICE r15 #3) — unreachable at
            # the testdata SFs, but a sparse corpus must land an EMPTY
            # wave (no files -> no micro-batch -> the class contributes
            # no batch_id, exactly the oracle's eligible-class
            # derivation) rather than die in an os.rename traceback.
            if os.path.isdir(f"{stage}/_res={i}"):
                os.rename(f"{stage}/_res={i}", f"{src}/b{i}")
            else:
                os.makedirs(f"{src}/b{i}")

        land(0)  # the glob must match something before the stream starts
        stream = spark.readStream.schema(docs.schema).parquet(f"{src}/b*")
        q = jobs.minhash_ingest_stream(
            stream, store, checkpoint_dir=f"{tmp}/ckpt"
        ).start()
        try:
            q.processAllAvailable()
            for i in (1, 2):
                land(i)
                q.processAllAvailable()
        finally:
            q.stop()

        # ONE store scan feeds both the LSH probe and the tail's
        # profile/batch census (r16, VERDICT r15 #4): a store reader
        # + a separate spark.read.parquet(store) for the census was two
        # scans of the same directory; the persisted frame is scanned
        # once and both consumers read the cache.
        store_df = spark.read.parquet(store).persist()
        profiles = store_df.drop("batch_id")
        pairs = (
            ops.minhash_lsh_pairs_from_profiles(
                profiles, threshold=JACCARD_THRESHOLD
            )
            .select("a_id", "b_id")
            .persist()
        )
        n_lsh_pairs = pairs.count()
        drops = pairs.select(F.col("b_id").alias("doc_id")).distinct()
        surv = docs.select("doc_id").join(drops, "doc_id", "left_anti")
        digest = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
        )
        srow = surv.agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("doc_id").cast("long").alias("survivor_id_sum"),
            F.sum(digest).cast("long").alias("survivor_digest"),
        ).collect()[0]
        # Tail census in TWO actions instead of four (r15 optimization,
        # guide §1.2 "don't compute things twice"): n_profiled and
        # n_ingest_batches come from ONE aggregate over the store scan
        # (batch_id is the store's partition column — the old separate
        # distinct() was a second full store read), and n_dropped is
        # derived as n_docs - n_survivors, exact because doc_id is unique
        # and every dropped b_id is a document id (drops ⊆ docs), so
        # |survivors| = |docs| - |drops| — the same set algebra the
        # oracle replays. An EMPTY wave's batch_id=N directory holds no
        # rows, so count(DISTINCT batch_id) still matches the oracle's
        # eligible-class derivation (unreachable at the testdata SFs).
        n_docs = docs.count()
        prow = (
            store_df.agg(
                F.count(F.lit(1)).alias("n_profiled"),
                F.countDistinct("batch_id").alias("n_ingest_batches"),
            )
            .collect()[0]
        )
        row = (
            n_docs,
            prow["n_profiled"],
            prow["n_ingest_batches"],
            n_lsh_pairs,
            n_docs - srow["n_survivors"],
            srow["n_survivors"],
            srow["survivor_id_sum"],
            srow["survivor_digest"],
        )
    finally:
        if pairs is not None:
            pairs.unpersist()
        if store_df is not None:
            store_df.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_docs long, n_profiled long, n_ingest_batches long, "
        "n_lsh_pairs long, n_dropped long, n_survivors long, "
        "survivor_id_sum long, survivor_digest long",
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 of 64 bits), chunk-join
    candidates. md5-half-hash features => the DuckDB oracle replays the
    full pipeline (64 bit-sums, signature fold, chunk pigeonhole join,
    popcount verify) and the driver hash-checks it."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.simhash_pairs(docs, max_hamming=3)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: all pairs with cosine >= 0.4, exact.

    O(N^2) FLOPs by problem definition (the 0.4 threshold sits on a
    continuous pair-cosine distribution with no gap to the random
    background, so no bucketing family is lossless there); serves as the
    oracle anchor. The production-scale path is dedup_embedding_lsh."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=COSINE_THRESHOLD)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup: hyperplane-LSH candidate equi-join +
    exact fold-cosine verify (precision 1, recall pinned in
    tests/test_dedup_similarity.py). The seeded hyperplanes are inlined
    into the DuckDB oracle, which replays bucket assignment, the
    self-collision join, and the exact-cosine verify — hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_lsh(
        emb,
        threshold=COSINE_LSH_THRESHOLD,
        planes_per_table=3,
        n_tables=16,
        # occupancy-held bit width: resolves to 3 planes at every
        # oracle-checked SF (hash-pinned results unchanged); grows with
        # log(N) beyond so the candidate join stays bucket-bounded (the
        # r08 ladder's slope-1.16 finding) — recall trade documented in
        # the operator
        hold_occupancy=True,
        # bound_noise_floor stays OFF here by intent: this query's OUTPUT
        # IS the threshold pair graph, so auto-raising the threshold would
        # change what the query means. The keep-list composites
        # (pipeline_embedding_prep) opt in, where past the chance-pair
        # budget a 0.45-graph is noise anyway (r11, VERDICT r10 #1).
    )


def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup keep-list [Abbas et al. 2023]: close
    the embedding near-dup pair graph (hyperplane-LSH candidates + exact
    cosine verify, same pipeline as dedup_embedding_lsh) under
    transitivity with distributed connected components — every vector gets
    a cluster_id (the min reachable vec_id); keeping one representative
    per cluster is the semantic-dedup decision. Composition of two
    hash-checked operators; the oracle replays the LSH pair SQL and closes
    it with a recursive CTE."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_lsh(
        emb,
        threshold=COSINE_LSH_THRESHOLD,
        planes_per_table=3,
        n_tables=16,
        # occupancy-held bit width: resolves to 3 planes at every
        # oracle-checked SF (hash-pinned results unchanged); grows with
        # log(N) beyond so the candidate join stays bucket-bounded (the
        # r08 ladder's slope-1.16 finding) — recall trade documented in
        # the operator
        hold_occupancy=True,
        # bound_noise_floor stays OFF here by intent: this query's OUTPUT
        # IS the threshold pair graph, so auto-raising the threshold would
        # change what the query means. The keep-list composites
        # (pipeline_embedding_prep) opt in, where past the chance-pair
        # budget a 0.45-graph is noise anyway (r11, VERDICT r10 #1).
    )
    return ops.connected_components(
        pairs.select("a_id", "b_id"), emb.select("vec_id"), id_col="vec_id"
    )


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup proper [Abbas et al. 2023]: k-means-partition the
    embedding space (the same seeded 8-centroid assignment step as
    sim_kmeans_iter — zero joins, centroid literals), then run EXACT
    all-pairs cosine ONLY within each cluster and drop the higher id of
    every >= 0.4 pair. Contrast with dedup_embedding_clusters (the
    LSH-candidate + connected-components variant): here the candidate
    structure is the clustering itself, so the work is sum(cluster^2)
    FLOPs — tunable by k — with no hash-table recall question; the cost
    is that cross-cluster near-dups are out of scope BY DESIGN (the
    paper's trade).

    Scale shape: assignment at scan speed; the intra-cluster pair search
    is cosine_pairs with partition_col="cluster_id" — numpy-blocked
    block-matmul per (cluster, block-pair) task, block grid EQUI-joined
    on the cluster key (no cartesian anywhere), exact fold re-verify on
    candidates. k GROWS WITH N (k = max(8, ceil(N/250)), implemented
    r08) so sum(cluster^2) stays ~N x target — linear — with the
    assignment switching from the oracle-pinned folds (k=8, every gate
    SF) to one Arrow-batched numpy argmin above the floor; hot clusters
    split across block sub-pairs. Output: per-cluster dedup accounting
    (k rows, all-integer).
    """
    import math as _math

    from .similarity import _KMEANS_K, _kmeans_centroids, _kmeans_dists_expr

    emb = load_table(spark, sf_dir, "embeddings")
    # Pre-flight guardrail (VERDICT r08 #5, the ladder's quadratic-output
    # lesson as code): warn when the dedup threshold sits inside the
    # random-pair cosine noise floor — output (and cost) then grows
    # ~N^2 by CHANCE crossings, in any engine. Warning, not error: the
    # gate-SF synthetic corpus (dim=64) intentionally trips it, and the
    # hash-pinned output is unaffected.
    warn_if_threshold_in_noise_floor(emb, COSINE_THRESHOLD)
    # Adaptive cluster count (the paper's own scale knob, automated the
    # same way as the r08 occupancy-held LSH widths): k grows with the
    # corpus so expected cluster size stays ~target and the exact
    # intra-cluster work sum(cluster^2) ~ N x target stays LINEAR in N
    # instead of N^2/k. The floor is the oracle-pinned 8 and centroid
    # draws are sequential, so every gate SF resolves to the identical
    # 8-centroid plan and the hash-checked rows are unchanged.
    # corpus_count: shares the memoized count with any other occupancy-
    # held operator constructed over this same frame (ADVICE r08 #2)
    n_vecs = corpus_count(emb, "vec_id")
    k = max(_KMEANS_K, _math.ceil(n_vecs / _SEMDEDUP_TARGET_CLUSTER_ROWS))
    if k == _KMEANS_K:
        # Gate-SF path: the oracle-pinned Catalyst folds, bit-identical
        # to the SQL oracle's replay.
        darr = emb.select(
            "vec_id",
            "embedding",
            _kmeans_dists_expr(
                "transform(`embedding`, x -> cast(x as double))",
                _kmeans_centroids(k),
            ).alias("_dists"),
        )
        assigned = darr.select(
            "vec_id",
            "embedding",
            (
                F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1
            ).alias("cluster_id"),
        )
    else:
        # Above the gate SFs, k grows with N and flat assignment via
        # interpreted folds is itself O(N*k*dim) — measured SLOWER than
        # the fixed-k pair blowup it replaces (14.9s vs 6.3s at K=25 on
        # the ladder). One Arrow-batched numpy argmin does the same L2
        # assignment at matmul speed — same argmin up to FP rounding,
        # not bit-equivalent: the fold sums sum((x-c)^2) left-to-right
        # while the matmul expands ||x||^2+||c||^2-2x.c, so a near-tie
        # within ~1e-15 relative error could flip (ADVICE r08 #1; this
        # branch is above every oracle-pinned SF by construction, so no
        # hash-checked row rides on it). The k x dim centroid matrix
        # ships in the UDF closure (broadcast-like), argmin ties break
        # to the lowest index like array_position. At N where even
        # N*k*dim matmul FLOPs bind (k ~ N/target), production
        # escalates to hierarchical/coarse-quantized assignment — the
        # IVF pattern this engine ships for retrieval.
        cm = np.asarray(_kmeans_centroids(k), dtype=np.float64)
        cm_sq = (cm * cm).sum(axis=1)

        @F.pandas_udf("long")  # match the fold path's array_position-1 dtype
        def _assign(vecs: pd.Series) -> pd.Series:
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            # full ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x.c (the x^2 term
            # is argmin-constant but keeping it preserves the distance
            # SCALE, so near-tie behavior tracks the fold path closely)
            d = (m * m).sum(axis=1)[:, None] + cm_sq[None, :] - 2.0 * (m @ cm.T)
            return pd.Series(np.argmin(d, axis=1).astype(np.int64))

        assigned = emb.select(
            "vec_id", "embedding", _assign(F.col("embedding")).alias("cluster_id")
        )
    pairs = cosine_pairs(
        assigned, threshold=COSINE_THRESHOLD, partition_col="cluster_id"
    )
    drops = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    flagged = assigned.join(
        drops.withColumn("_dropped", F.lit(1)), "vec_id", "left"
    )
    return (
        flagged.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce(F.col("_dropped"), F.lit(0))).alias("n_dropped"),
        )
        .select(
            "cluster_id",
            "n_members",
            "n_dropped",
            (F.col("n_members") - F.col("n_dropped")).alias("n_kept"),
        )
    )


def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composite these operators exist
    for: quality filter -> exact dedup (min-id representative) -> 3-gram
    Jaccard near-dup removal (drop the higher id of each >=0.8 pair) ->
    curated manifest with token accounting.

    Every stage is exact (int/int ratios, lossless PPJoin prefix filter),
    so the whole pipeline is oracle-checkable. Scale shape: one scan for
    quality+tokens (narrow, codegen), one hash-agg for exact dedup, the
    inverted-index join for near-dups, one anti-join — no all-pairs
    anywhere, no Python.

    Caching contract (same as pipeline_training_prep / jaccard_pairs):
    the multi-consumer stages (``kept`` feeds the dedup agg AND the
    survivor join; ``survivors`` feeds the shingle scan AND the final
    anti-join) stay ``persist()``-ed — measured 6.4s -> 3.5s warm at
    sf0.1 without/with. Long sessions clearCache()/unpersist().
    """
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    kept = text_ops.quality_filter(docs).persist()
    # Exact dedup stays the exact_dedup agg + join-back — see
    # pipeline_training_prep: the r15 window-over-text rewrite measured
    # 1.7x SLOWER (full-row shuffle + ~kB-string sort vs map-side-partial
    # agg + id-keyed join-back). Window folds only win on narrow keys.
    reps = ops.exact_dedup(kept, ["text"], "doc_id").select("doc_id", "n_copies")
    survivors = kept.join(reps, "doc_id").persist()
    # narrow projection below the shingle explode: the persisted shingle
    # table then carries no quality columns through its 8 plan branches
    pairs = ops.jaccard_pairs(
        ops.word_shingles(survivors.select("doc_id", "text")),
        threshold=JACCARD_THRESHOLD,
    )
    drops = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    curated = survivors.join(drops, "doc_id", "left_anti")
    stats = text_ops.token_stats(curated)
    return stats.select("doc_id", "quality", "n_copies", "n_tokens", "n_bpe_tokens")


def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL training-data prep as one query — the widest composite in
    the engine, and still covered by a single oracle: source-level
    filtering (drop whole low-quality domains) -> per-doc quality filter
    -> exact dedup (min-id representative) -> 3-gram Jaccard near-dup
    removal -> 8-gram benchmark decontamination (docs 0-9 are the
    held-out set and are excluded from the corpus) -> deterministic
    hash split with per-split token budgets.

    Every stage is exact or lattice-exact (int/int ratios, 1e-9 integer
    quality sums, lossless PPJoin prefix filter, md5 buckets), so six
    chained curation decisions hash-check end-to-end. Scale shape: scans
    + hash aggs + the inverted-index joins, two anti-joins, a broadcast
    of the tiny benchmark shingle set — no all-pairs, no Python.
    Output: (split, n_docs, total_tokens).

    Caching contract (same as operators.dedup.jaccard_pairs): the two
    multi-consumer stage outputs (``scored`` feeds the dedup agg AND the
    survivor join; ``deduped`` feeds the contamination scan AND the
    final anti-join) stay ``persist()``-ed — without it each branch
    recomputes the whole upstream regex/quality chain (measured ~15%
    slower at sf0.1). Long-lived sessions clearCache()/unpersist().
    """
    from ..operators import text as text_ops
    from ..operators.text import hash_bucket_100, source_quality_filter
    from ..operators.text import tokens as tokenize

    docs = load_table(spark, sf_dir, "documents")
    kept_sources = source_quality_filter(docs, threshold=0.33).filter(
        F.col("kept")
    ).select("source")
    corpus = docs.filter(F.col("doc_id") >= 10).join(
        F.broadcast(kept_sources), "source"
    )
    scored = text_ops.quality_filter(corpus).persist()
    # Exact dedup stays the exact_dedup agg + join-back — an r15 window
    # rewrite (min(doc_id) OVER (PARTITION BY text)) was measured 1.7x
    # SLOWER in an interleaved in-process A/B (7.84 vs 4.53 s at sf0.1):
    # a window over the TEXT key shuffles and SORTS full document rows
    # by a ~kB string, while the agg dedups (text, id) pairs map-side
    # and the representative list joins back by id (broadcast at test
    # scale; id-keyed shuffle, never a long-string sort, at 100 TB).
    # The window-fold rewrite only wins on NARROW keys (see
    # jaccard_pairs); guide §1.1's "fresh ideal plan is usually slower
    # at first" in the flesh.
    reps = ops.exact_dedup(scored, ["text"], "doc_id").select("doc_id")
    survivors = scored.join(reps, "doc_id")
    pairs = ops.jaccard_pairs(
        ops.word_shingles(survivors.select("doc_id", "text")),
        threshold=JACCARD_THRESHOLD,
    )
    drops = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    deduped = survivors.join(drops, "doc_id", "left_anti").persist()
    bench_sh = (
        ops.word_shingles(docs.filter(F.col("doc_id") < 10), n=8)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        ops.word_shingles(deduped.select("doc_id", "text"), n=8)
        .join(F.broadcast(bench_sh), "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    bucket = hash_bucket_100(F.col("doc_id"))
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        clean.select(
            split.alias("split"), F.size(tokenize(F.col("text"))).alias("n_tok")
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "pipeline_corpus_curation": pipeline_corpus_curation,
    "pipeline_training_prep": pipeline_training_prep,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_cross_corpus": dedup_cross_corpus,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_recall": dedup_minhash_recall,
    "dedup_stream_store_recheck": dedup_stream_store_recheck,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_embedding_clusters": dedup_embedding_clusters,
    "dedup_semdedup": dedup_semdedup,
}

ORACLES = {
    "pipeline_training_prep": """
WITH t AS (
  SELECT doc_id, source, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, source, text, toks,
      0.3*(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/NULLIF(len(toks), 0))
    + 0.3*(CAST(len(list_distinct(toks)) AS DOUBLE)/NULLIF(len(toks), 0))
    + 0.3*least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
    - 0.1*(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)/NULLIF(length(text), 0))
    AS quality
  FROM t
),
src AS (
  SELECT source FROM (
    SELECT source,
           CAST(sum(CAST(floor(quality * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e9 AS mq
    FROM q GROUP BY source
  ) WHERE mq >= 0.33
),
corpus AS (
  SELECT * FROM q
  WHERE doc_id >= 10 AND source IN (SELECT source FROM src) AND quality >= 0.33
),
rep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
surv AS (SELECT c.* FROM corpus c JOIN rep USING (doc_id)),
sh3 AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, toks AS w FROM surv) s, UNNEST(range(1, len(w) - 1)) u(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
drops AS (
  SELECT DISTINCT b_id AS doc_id FROM p
  JOIN sizes sa ON a_id = sa.doc_id
  JOIN sizes sb ON b_id = sb.doc_id
  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8
),
surv2 AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
bench8 AS (
  SELECT DISTINCT array_to_string(w[i : i + 7], ' ') AS shingle
  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents WHERE doc_id < 10) b,
       UNNEST(range(1, len(w) - 6)) u(i)
  WHERE len(w) >= 8
),
s8 AS (
  SELECT DISTINCT doc_id, array_to_string(w[i : i + 7], ' ') AS shingle
  FROM (SELECT doc_id, toks AS w FROM surv2) s, UNNEST(range(1, len(w) - 6)) u(i)
  WHERE len(w) >= 8
),
cont AS (SELECT DISTINCT doc_id FROM s8 JOIN bench8 USING (shingle)),
clean AS (SELECT * FROM surv2 WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
final AS (
  SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
              WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         len(toks) AS n_tok
  FROM clean
)
SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM final GROUP BY split
""",
    "pipeline_corpus_curation": """
WITH t AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, text, toks,
      0.3*(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)/NULLIF(len(toks), 0))
    + 0.3*(CAST(len(list_distinct(toks)) AS DOUBLE)/NULLIF(len(toks), 0))
    + 0.3*least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
    - 0.1*(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)/NULLIF(length(text), 0))
    AS quality
  FROM t
),
kept AS (SELECT * FROM q WHERE quality >= 0.33),
rep AS (SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM kept GROUP BY text),
surv AS (SELECT k.doc_id, k.text, k.toks, k.quality, r.n_copies
         FROM kept k JOIN rep r USING (doc_id)),
shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, toks AS w FROM surv) s, UNNEST(range(1, len(w) - 1)) u(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT b_id FROM pairs
  JOIN sizes sa ON a_id = sa.doc_id
  JOIN sizes sb ON b_id = sb.doc_id
  WHERE common * 1.0 / (sa.n_shingles + sb.n_shingles - common) >= 0.8
)
SELECT doc_id, quality, n_copies,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE}')) AS INTEGER) AS n_bpe_tokens
FROM surv
WHERE doc_id NOT IN (SELECT b_id FROM drops)
""".replace("{BPE}", _BPE_SQL),
    "dedup_exact": """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies, length(text) AS text_len
FROM documents GROUP BY text
""",
    "dedup_clusters": f"""
WITH RECURSIVE {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sim AS (
  SELECT a_id, b_id FROM pairs
  JOIN sizes sa ON a_id = sa.doc_id
  JOIN sizes sb ON b_id = sb.doc_id
  WHERE common * 1.0 / (sa.n_shingles + sb.n_shingles - common) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT a_id AS u, b_id AS v FROM sim
          UNION ALL SELECT b_id AS u, a_id AS v FROM sim),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT d.doc_id,
       CAST(COALESCE(least(m.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
FROM documents d
LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) m ON d.doc_id = m.u
""",
    "dedup_containment": f"""
WITH {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, CAST(common AS INTEGER) AS common,
       CAST(common AS DOUBLE) / sa.n_shingles AS containment
FROM pairs
JOIN sizes sa ON a_id = sa.doc_id
WHERE CAST(common AS DOUBLE) / sa.n_shingles >= {CONTAINMENT_THRESHOLD}
""",
    "dedup_ngram_jaccard": f"""
WITH {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, common,
       common * 1.0 / (sa.n_shingles + sb.n_shingles - common) AS jaccard
FROM pairs
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE common * 1.0 / (sa.n_shingles + sb.n_shingles - common) >= {JACCARD_THRESHOLD}
""",
    "dedup_cross_corpus": f"""
WITH docs AS (
  SELECT doc_id, CAST(substr(source, 4) AS INTEGER) >= 10 AS is_new,
         string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, is_new, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM docs, UNNEST(range(1, len(w) - 1)) t(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, is_new, count(*) AS n_shingles FROM shingles GROUP BY doc_id, is_new),
based AS (
  SELECT doc_id, is_new,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) % {_MERSENNE} AS h
  FROM shingles
),
sig AS (
  SELECT doc_id, is_new,
    {_MH_SIG_EXPRS}
  FROM based GROUP BY doc_id, is_new
),
bands AS (
  {_MH_BAND_SELECTS.replace("SELECT doc_id,", "SELECT doc_id, is_new,")}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND {_MH_BAND_JOIN}
  WHERE a.is_new AND NOT b.is_new
),
pairs AS (
  SELECT c.new_id, c.ref_id, count(*) AS common
  FROM candidates c
  JOIN shingles sa ON sa.doc_id = c.new_id
  JOIN shingles sb ON sb.doc_id = c.ref_id AND sb.shingle = sa.shingle
  GROUP BY c.new_id, c.ref_id
)
SELECT new_id, ref_id,
       common * 1.0 / (zn.n_shingles + zr.n_shingles - common) AS jaccard
FROM pairs
JOIN sizes zn ON zn.doc_id = new_id
JOIN sizes zr ON zr.doc_id = ref_id
WHERE common * 1.0 / (zn.n_shingles + zr.n_shingles - common) >= {JACCARD_THRESHOLD}
""",
    "dedup_minhash_lsh": f"""
WITH {_SHINGLE_CTE},
based AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) % {_MERSENNE} AS h
  FROM shingles
),
sig AS (
  SELECT doc_id,
    {_MH_SIG_EXPRS}
  FROM based GROUP BY doc_id
),
bands AS (
  {_MH_BAND_SELECTS}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND {_MH_BAND_JOIN}
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, count(*) AS common
  FROM shingles sa
  JOIN shingles sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
  JOIN candidates c ON c.a_id = sa.doc_id AND c.b_id = sb.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       common * 1.0 / (za.n_shingles + zb.n_shingles - common) AS jaccard
FROM pairs
JOIN sizes za ON a_id = za.doc_id
JOIN sizes zb ON b_id = zb.doc_id
WHERE common * 1.0 / (za.n_shingles + zb.n_shingles - common) >= {JACCARD_THRESHOLD}
""",
    "dedup_embedding_lsh": f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bt AS (
  {_EMB_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bt a JOIN bt b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT a_id, b_id
FROM cand
JOIN e ea ON ea.vec_id = a_id
JOIN e eb ON eb.vec_id = b_id
WHERE list_dot_product(ea.v, eb.v)
      / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
      >= {COSINE_LSH_THRESHOLD}
""",
    "dedup_embedding_clusters": f"""
WITH RECURSIVE e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bt AS (
  {_EMB_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bt a JOIN bt b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
sim AS (
  SELECT a_id, b_id
  FROM cand
  JOIN e ea ON ea.vec_id = a_id
  JOIN e eb ON eb.vec_id = b_id
  WHERE list_dot_product(ea.v, eb.v)
        / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
        >= {COSINE_LSH_THRESHOLD}
),
edges AS (SELECT a_id AS u, b_id AS v FROM sim
          UNION ALL SELECT b_id AS u, a_id AS v FROM sim),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
)
SELECT emb.vec_id,
       CAST(COALESCE(least(m.mn, emb.vec_id), emb.vec_id) AS BIGINT) AS cluster_id
FROM embeddings emb
LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) m ON emb.vec_id = m.u
""",
    "dedup_simhash": f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS hlo,
         CAST(concat('0x', substr(md5(word), 9, 8)) AS BIGINT) AS hhi
  FROM words
),
sums AS (
  SELECT doc_id,
    {_SH_BIT_SUMS}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id, {_SH_FOLD_LO} AS sig_lo, {_SH_FOLD_HI} AS sig_hi FROM sums
),
chunks AS (
  {_SH_CHUNKS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.sig_lo AS alo, a.sig_hi AS ahi, b.sig_lo AS blo, b.sig_hi AS bhi
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 3
""",
    "dedup_embedding_cosine": f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {COSINE_THRESHOLD}
""",
}
# NOTE: the "dedup_semdedup" oracle is registered from queries/similarity.py
# (same late-binding spot as "pipeline_embedding_prep") — it needs the
# seeded k-means centroid SQL, and similarity.py already imports from this
# module at load time, so the reverse module-level import would be circular.

# Recall-report composition: nests the two already-hash-checked pair
# pipelines VERBATIM as derived tables (their CTE names collide, so each
# runs in its own subquery scope), then marks hits with the same
# left-join contract as queries/similarity.py::_recall_report.
ORACLES["dedup_minhash_recall"] = f"""
WITH exact AS (SELECT a_id, b_id FROM ({ORACLES["dedup_ngram_jaccard"]}) _e),
lsh AS (SELECT a_id, b_id FROM ({ORACLES["dedup_minhash_lsh"]}) _l),
h AS (
  SELECT e.a_id, CASE WHEN l.a_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact e LEFT JOIN lsh l ON e.a_id = l.a_id AND e.b_id = l.b_id
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh_pairs,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       floor(CAST(sum(hit) AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0)
             * 1e9 + 0.5) / 1e9 AS recall
FROM h
"""

# Streaming-store recheck: the oracle replays the ONE-SHOT batch pipeline
# (the hash-checked dedup_minhash_lsh SQL, nested verbatim) + the same
# drop rule and survivor census — it knows nothing about the stream, so a
# hash match proves store-probe == batch end-to-end. n_ingest_batches
# REPLAYS the arrival split rather than pinning a literal 3 (r15 review):
# the engine measures distinct store batch_id partitions, and a store
# batch lands rows iff its doc_id%3 residue class holds >=1 profile-
# eligible document — so the oracle counts exactly those classes, and a
# corpus where one class has no >=3-token docs cannot spuriously
# mismatch. The md5-prefix digest mirrors the engine's
# conv(substring(md5(id),1,8),16,10) bigint.
ORACLES["dedup_stream_store_recheck"] = f"""
WITH {_SHINGLE_CTE},
lsh AS (SELECT a_id, b_id FROM ({ORACLES["dedup_minhash_lsh"]}) _l),
drops AS (SELECT DISTINCT b_id AS doc_id FROM lsh),
surv AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM sizes) AS n_profiled,
  (SELECT CAST(count(DISTINCT doc_id % 3) AS BIGINT) FROM sizes)
    AS n_ingest_batches,
  (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh_pairs,
  (SELECT CAST(count(*) AS BIGINT) FROM drops) AS n_dropped,
  CAST(count(*) AS BIGINT) AS n_survivors,
  CAST(sum(doc_id) AS BIGINT) AS survivor_id_sum,
  CAST(sum(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       AS BIGINT)) AS BIGINT) AS survivor_digest
FROM surv
"""
