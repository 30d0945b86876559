"""Multimodal-column queries: binary payload plumbing + stubbed decode."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as ops
from ..sources import load_table


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata struct, projected flat for comparison."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = ops.attach_binary_payload(docs)
    return with_payload.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction (deterministic fake
    decoder - see operators.multimodal). The fake decoder is pure byte
    arithmetic (length / first byte / sum of first 64 bytes), so it IS
    oracle-expressible: the SQL below models the bytes via ord(substr)
    (valid because the corpus is ASCII — byte == codepoint, verified
    octet_length == length over all docs)."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.decode_features(ops.attach_binary_payload(docs))


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (1:1 payload rewrite in mapInPandas). The stub
    resizer is deterministic, so byte length is oracle-checkable; the
    payload itself stays binary and is projected out here."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.resize_images(ops.attach_binary_payload(docs)).select(
        "doc_id", "out_w", "out_h", "n_bytes"
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (1:N row explosion in mapInPandas): every
    4th 64-byte frame. Frame count/boundaries are deterministic =>
    oracle-checkable row-per-frame output."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.sample_frames(ops.attach_binary_payload(docs)).select(
        "doc_id", "frame_idx", "frame_bytes"
    )


def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS over the payload read as int16 PCM — real DSP math
    (numpy frombuffer, no codec), 1:N mapInPandas explosion. The int64
    square-sum is exact and sqrt/divide are IEEE-correctly rounded, so
    DuckDB replays the value bit-for-bit from the same bytes (ASCII
    corpus: byte == codepoint, same guarantee mm_decode_features uses)."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.audio_rms_windows(ops.attach_binary_payload(docs))


def mm_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence trimming over the PCM payload: per clip, the first/last
    RMS window at or above the 25000 energy threshold and how many
    windows survive the trim — the VAD-style preprocessing step that
    crops lead-in/lead-out silence before audio is chunked for training.

    Rides the same windowed-RMS leg as mm_audio_rms (exact int64
    square-sums in Arrow-batched mapInPandas, one divide + one sqrt)
    then ONE conditional hash agg per clip — the 1:N explosion collapses
    right back to 1 row/doc before any exchange. The threshold compares
    the bit-exact RMS doubles, so the voiced set (and therefore every
    output integer) is engine-exact; clips that are all "silence" report
    NULL bounds and 0 kept windows.
    """
    docs = load_table(spark, sf_dir, "documents")
    rms = ops.audio_rms_windows(ops.attach_binary_payload(docs))
    voiced = F.col("rms") >= 25000.0
    agg = rms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.count(F.when(voiced, 1)).alias("n_voiced"),
        F.min(F.when(voiced, F.col("window_idx"))).alias("first_voiced"),
        F.max(F.when(voiced, F.col("window_idx"))).alias("last_voiced"),
    )
    kept = F.when(
        F.col("first_voiced").isNull(), F.lit(0)
    ).otherwise(F.col("last_voiced") - F.col("first_voiced") + 1)
    return agg.withColumn("kept_windows", kept.cast("int"))


_SIG_SAT_SAMPLE = 1024


def _preflight_signature_saturation(docs: DataFrame, max_hamming: int = 6) -> None:
    """Shared pre-flight for the a-hash dedup family (VERDICT r09 #1):
    build a bounded md5-sampled probe (so the expensive Arrow decode
    touches only ``_SIG_SAT_SAMPLE`` rows), a-hash it, and warn when the
    sampled hamming<=t collision rate implies super-linear pair output at
    this corpus size. The probe size and the estimator's ``sample`` are
    single-sourced here so they cannot silently diverge. Warning only —
    callers' plans and oracle hashes are unchanged. It runs its sample
    jobs at query construction time."""
    from ..operators.dedup import warn_if_signature_space_saturated

    probe = docs.orderBy(F.md5(F.col("doc_id").cast("string"))).limit(
        _SIG_SAT_SAMPLE
    )
    warn_if_signature_space_saturated(
        ops.image_ahash(ops.attach_binary_payload(probe)),
        corpus_count=docs.count(),
        max_hamming=max_hamming,
        sample=_SIG_SAT_SAMPLE,
    )


def mm_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: perceptual average-hash signatures
    (operators.multimodal.image_ahash — Arrow-batched mapInPandas over
    the binary payload, deterministic stub pixels) fed into the SAME
    chunk-pigeonhole hamming join SimHash uses
    (operators.dedup.hamming64_pairs). Exact-duplicate payloads hash
    identically (hamming 0); near-identical grids surface up to
    hamming 6 with zero all-pairs work.

    Pre-flight (r10, VERDICT r09 #1): signature-entropy guardrail — a
    bounded md5-sampled probe (decode stays O(sample)) estimates the
    hamming<=6 collision rate and warns when pair output is already
    super-linear at this corpus size (the stub-pixel corpus saturates;
    real perceptual hashes pass silently). Warning only — the returned
    plan and its oracle hash are unchanged."""
    from ..operators.dedup import hamming64_pairs

    docs = load_table(spark, sf_dir, "documents")
    _preflight_signature_saturation(docs, max_hamming=6)
    sig = ops.image_ahash(ops.attach_binary_payload(docs))
    return hamming64_pairs(
        sig, "doc_id", max_hamming=6, n_chunks=8, group_signatures=True
    )


# aHash oracle building blocks: the stub pixel model in SQL (byte j of the
# payload tiled to 64 == codepoint of text char (j % len) + 1; ASCII corpus
# so byte == codepoint, the mm_decode_features guarantee), then the same
# 8-chunk pigeonhole join as the SimHash oracle.
_AH_CHUNKS = "\n  UNION ALL ".join(
    f"SELECT doc_id, sig_lo, sig_hi, {c} AS chunk_idx, "
    + (
        f"(sig_lo >> {c * 8}) & 255 AS chunk FROM sig"
        if c < 4
        else f"(sig_hi >> {(c - 4) * 8}) & 255 AS chunk FROM sig"
    )
    for c in range(8)
)

# Signature CTEs shared by the pair oracle and the mapInArrow twin's
# signature-only oracle (single-sourced so the two cannot diverge).
_AHASH_SIG_CTES = """px AS (
  SELECT doc_id, j,
         ord(substr(text, CAST((j % length(text)) + 1 AS INTEGER), 1)) AS p
  FROM documents, LATERAL unnest(range(0, 64)) t(j)
),
m AS (SELECT doc_id, sum(p) / 64.0 AS mean FROM px GROUP BY doc_id),
sig AS (
  SELECT px.doc_id,
    CAST(sum(CASE WHEN j < 32 AND p > mean THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS sig_lo,
    CAST(sum(CASE WHEN j >= 32 AND p > mean THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER) ELSE 0 END) AS BIGINT) AS sig_hi
  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id
)"""

_AHASH_SQL = f"""
WITH {_AHASH_SIG_CTES},
chunks AS (
  {_AH_CHUNKS}
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
WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 6
"""


def mm_ahash_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a-hash signatures via the raw-Arrow map surface: the ``mapInArrow``
    twin of the mapInPandas a-hash leg (operators.multimodal.
    image_ahash_arrow) — defined output-identical, sharing the pair
    oracle's signature CTEs, existing to exercise the last
    census-visible-but-unexercised Python-stage family (VERDICT r11 #2;
    the text_chunk_udtf pattern). Output: one (doc_id, sig_lo, sig_hi)
    row per document — the signature table the hamming band join
    consumes; the mapInPandas twin remains the production path."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.image_ahash_arrow(ops.attach_binary_payload(docs))


_AHASH_ARROW_SQL = f"""
WITH {_AHASH_SIG_CTES}
SELECT doc_id, sig_lo, sig_hi FROM sig
"""


def mm_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS: close the a-hash hamming pair graph
    (mm_image_ahash's candidates) under transitivity with distributed
    connected components — every image gets a cluster_id (min reachable
    doc id), keep-one-per-cluster is the multimodal dedup decision.
    The vector/text dedup-cluster story (dedup_clusters,
    dedup_embedding_clusters) applied to the image modality: same
    pointer-doubling components operator, same recursive-CTE oracle
    closure over the replayed pair SQL. Pre-flight (r10): the same
    signature-entropy guardrail as mm_image_ahash — warning only, plan
    and oracle hash unchanged."""
    from ..operators.dedup import connected_components, hamming64_pairs

    docs = load_table(spark, sf_dir, "documents")
    _preflight_signature_saturation(docs, max_hamming=6)
    sig = ops.image_ahash(ops.attach_binary_payload(docs))
    pairs = hamming64_pairs(
        sig, "doc_id", max_hamming=6, n_chunks=8, group_signatures=True
    )
    return connected_components(
        pairs.select("a_id", "b_id"), docs.select("doc_id"), id_col="doc_id"
    )


_AHASH_CLUSTERS_SQL = f"""
WITH RECURSIVE px AS (
  SELECT doc_id, j,
         ord(substr(text, CAST((j % length(text)) + 1 AS INTEGER), 1)) AS p
  FROM documents, LATERAL unnest(range(0, 64)) t(j)
),
m AS (SELECT doc_id, sum(p) / 64.0 AS mean FROM px GROUP BY doc_id),
sig AS (
  SELECT px.doc_id,
    CAST(sum(CASE WHEN j < 32 AND p > mean THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS sig_lo,
    CAST(sum(CASE WHEN j >= 32 AND p > mean THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER) ELSE 0 END) AS BIGINT) AS sig_hi
  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id
),
chunks AS (
  {_AH_CHUNKS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.sig_lo AS alo, a.sig_hi AS ahi, b.sig_lo AS blo, b.sig_hi AS bhi
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
),
sim AS (
  SELECT a_id, b_id FROM cand
  WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 6
),
edges AS (SELECT a_id AS u, b_id AS v FROM sim
          UNION ALL SELECT b_id AS u, a_id AS v FROM sim),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
)
SELECT d.doc_id,
       CAST(COALESCE(least(mm.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
FROM documents d
LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) mm ON d.doc_id = mm.u
"""


def pipeline_multimodal_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal training prep as ONE query — the third composite next
    to pipeline_training_prep (text) and pipeline_embedding_prep
    (vectors), four chained curation decisions on the binary payloads
    under a single oracle:

    1. image near-dup removal: a-hash hamming<=6 pair graph closed by
       the shared connected-components operator, keep the min-id
       representative per cluster;
    2. audio quality screen: windowed-RMS voiced ratio >= 1/2 (the
       integer comparison ``2*n_voiced >= n_windows`` — no float
       boundary), dropping mostly-silent clips;
    3. keyframe manifest: every-4th-frame sampling counted per kept
       clip (the 1:N mapInPandas leg, collapsed right back);
    4. deterministic md5 train/val/test split.

    Output: per-split clip counts + total sampled frames + total voiced
    windows — the shard manifest a multimodal training run starts from.

    Scale shape: banded signature equi-join (never all-pairs),
    pointer-doubling components, Arrow-batched 1:N legs that collapse
    to 1 row/doc before any exchange, stateless md5 split — every stage
    hash-exact, so the composite hash-checks end-to-end.
    """
    from ..operators.dedup import connected_components, hamming64_pairs
    from ..operators.text import hash_bucket_100

    docs = load_table(spark, sf_dir, "documents")
    _preflight_signature_saturation(docs, max_hamming=6)
    wp = ops.attach_binary_payload(docs)
    sig = ops.image_ahash(wp)
    pairs = hamming64_pairs(
        sig, "doc_id", max_hamming=6, n_chunks=8, group_signatures=True
    )
    clusters = connected_components(
        pairs.select("a_id", "b_id"), docs.select("doc_id"), id_col="doc_id"
    )
    keepers = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    rms = ops.audio_rms_windows(wp)
    voiced = (
        rms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("rms") >= 25000.0, 1)).alias("n_voiced"),
        )
        .filter(F.col("n_voiced") * 2 >= F.col("n_windows"))
        .select("doc_id", "n_voiced")
    )
    kept_docs = docs.join(keepers, "doc_id").join(voiced, "doc_id")
    frames = (
        ops.sample_frames(ops.attach_binary_payload(kept_docs.drop("n_voiced")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    manifest = kept_docs.select("doc_id", "n_voiced").join(frames, "doc_id")
    bucket = hash_bucket_100(F.col("doc_id"))
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        manifest.select(split.alias("split"), "n_voiced", "n_frames")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("n_voiced").alias("total_voiced"),
        )
    )


# Multimodal-prep oracle: the a-hash cluster fragments (keepers), the
# RMS voiced screen, the frame-count formula, and the md5 split, joined.
_MM_PREP_SQL = f"""
WITH RECURSIVE px AS (
  SELECT doc_id, j,
         ord(substr(text, CAST((j % length(text)) + 1 AS INTEGER), 1)) AS p
  FROM documents, LATERAL unnest(range(0, 64)) t(j)
),
m AS (SELECT doc_id, sum(p) / 64.0 AS mean FROM px GROUP BY doc_id),
sig AS (
  SELECT px.doc_id,
    CAST(sum(CASE WHEN j < 32 AND p > mean THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS sig_lo,
    CAST(sum(CASE WHEN j >= 32 AND p > mean THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER) ELSE 0 END) AS BIGINT) AS sig_hi
  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id
),
chunks AS (
  {{chunks}}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.sig_lo AS alo, a.sig_hi AS ahi, b.sig_lo AS blo, b.sig_hi AS bhi
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
),
sim AS (
  SELECT a_id, b_id FROM cand
  WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 6
),
edges AS (SELECT a_id AS u, b_id AS v FROM sim
          UNION ALL SELECT b_id AS u, a_id AS v FROM sim),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
),
keepers AS (
  SELECT d.doc_id
  FROM documents d
  LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) mm ON d.doc_id = mm.u
  WHERE COALESCE(least(mm.mn, d.doc_id), d.doc_id) = d.doc_id
),
s AS (
  SELECT doc_id, i,
         ord(substr(text, CAST(2*i + 1 AS INTEGER), 1))
           + 256 * ord(substr(text, CAST(2*i + 2 AS INTEGER), 1)) AS sample
  FROM documents,
       LATERAL unnest(range(0, CAST(floor(length(text) / 2) AS BIGINT))) AS t(i)
),
w AS (
  SELECT doc_id, CAST(floor(i / 32) AS INTEGER) AS window_idx,
         count(*) AS n_samples, sum(sample * sample) AS ss
  FROM s GROUP BY 1, 2
),
voiced AS (
  SELECT doc_id,
         count(*) AS n_windows,
         CAST(count(*) FILTER (WHERE sqrt(CAST(ss AS DOUBLE) / n_samples) >= 25000.0) AS BIGINT)
           AS n_voiced
  FROM w GROUP BY doc_id
  HAVING CAST(count(*) FILTER (WHERE sqrt(CAST(ss AS DOUBLE) / n_samples) >= 25000.0) AS BIGINT) * 2
         >= count(*)
),
frames AS (
  SELECT doc_id,
         CAST((greatest(octet_length(encode(text)) // 64, 1) + 3) // 4 AS BIGINT)
           AS n_frames
  FROM documents
),
manifest AS (
  SELECT k.doc_id, v.n_voiced, f.n_frames,
         CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           AS bucket
  FROM keepers k
  JOIN voiced v ON v.doc_id = k.doc_id
  JOIN frames f ON f.doc_id = k.doc_id
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_clips,
       CAST(sum(n_frames) AS BIGINT) AS total_frames,
       CAST(sum(n_voiced) AS BIGINT) AS total_voiced
FROM manifest GROUP BY 1
""".format(chunks=_AH_CHUNKS)


def mm_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene segmentation plumbing: every 64-byte frame gets a
    mean-byte feature (REAL math, mapInPandas —
    operators.multimodal.frame_mean_features), then gaps-and-islands
    windows cut segments where the feature jumps > 8 between consecutive
    frames (operators.multimodal.scene_segments). Exact integer byte
    sums make the per-segment mean oracle-hashable without rounding."""
    docs = load_table(spark, sf_dir, "documents")
    frames = ops.sample_frames(
        ops.attach_binary_payload(docs), frame_size=64, every_n=1
    )
    feats = ops.frame_mean_features(frames)
    return ops.scene_segments(feats, threshold=8.0)


_SCENES_SQL = """
WITH chars AS (
  SELECT doc_id, length(text) AS n, i,
         ord(substr(text, CAST(i AS INTEGER), 1)) AS b
  FROM documents, LATERAL unnest(range(1, length(text) + 1)) t(i)
),
frames AS (
  SELECT doc_id, CAST((i - 1) // 64 AS INTEGER) AS frame_idx,
         sum(b) AS sum_byte, count(*) AS n_byte,
         CAST(sum(b) AS DOUBLE) / count(*) AS mean_byte
  FROM chars
  WHERE (i - 1) // 64 < greatest(n // 64, 1)
  GROUP BY doc_id, (i - 1) // 64
),
flagged AS (
  SELECT doc_id, frame_idx, sum_byte, n_byte, mean_byte,
         CASE WHEN lag(mean_byte) OVER w IS NULL
                OR abs(mean_byte - lag(mean_byte) OVER w) > 8.0
              THEN 1 ELSE 0 END AS chg
  FROM frames WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
),
runs AS (
  SELECT doc_id, frame_idx, sum_byte, n_byte,
         sum(chg) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS seg
  FROM flagged
)
SELECT doc_id, CAST(seg AS BIGINT) AS seg_idx,
       CAST(min(frame_idx) AS INTEGER) AS start_frame,
       count(*) AS n_frames,
       CAST(sum(sum_byte) AS DOUBLE) / sum(n_byte) AS mean_feature
FROM runs GROUP BY doc_id, seg
"""


QUERIES = {
    "mm_scene_segments": mm_scene_segments,
    "mm_image_ahash": mm_image_ahash,
    "mm_ahash_arrow": mm_ahash_arrow,
    "mm_image_dedup_clusters": mm_image_dedup_clusters,
    "mm_audio_rms": mm_audio_rms,
    "mm_audio_silence_trim": mm_audio_silence_trim,
    "pipeline_multimodal_prep": pipeline_multimodal_prep,
    "mm_binary_meta": mm_binary_meta,
    "mm_decode_features": mm_decode_features,
    "mm_resize": mm_resize,
    "mm_frame_sample": mm_frame_sample,
}

ORACLES = {
    "mm_scene_segments": _SCENES_SQL,
    "mm_image_ahash": _AHASH_SQL,
    "mm_ahash_arrow": _AHASH_ARROW_SQL,
    "mm_image_dedup_clusters": _AHASH_CLUSTERS_SQL,
    "pipeline_multimodal_prep": _MM_PREP_SQL,
    "mm_audio_silence_trim": """
WITH s AS (
  SELECT doc_id, i,
         ord(substr(text, CAST(2*i + 1 AS INTEGER), 1))
           + 256 * ord(substr(text, CAST(2*i + 2 AS INTEGER), 1)) AS sample
  FROM documents,
       LATERAL unnest(range(0, CAST(floor(length(text) / 2) AS BIGINT))) AS t(i)
),
w AS (
  SELECT doc_id, CAST(floor(i / 32) AS INTEGER) AS window_idx,
         count(*) AS n_samples, sum(sample * sample) AS ss
  FROM s GROUP BY 1, 2
),
r AS (
  SELECT doc_id, window_idx,
         sqrt(CAST(ss AS DOUBLE) / n_samples) >= 25000.0 AS voiced
  FROM w
)
SELECT doc_id,
       count(*) AS n_windows,
       CAST(count(*) FILTER (WHERE voiced) AS BIGINT) AS n_voiced,
       CAST(min(window_idx) FILTER (WHERE voiced) AS INTEGER) AS first_voiced,
       CAST(max(window_idx) FILTER (WHERE voiced) AS INTEGER) AS last_voiced,
       CAST(coalesce(max(window_idx) FILTER (WHERE voiced)
                     - min(window_idx) FILTER (WHERE voiced) + 1, 0) AS INTEGER)
         AS kept_windows
FROM r GROUP BY doc_id
""",
    "mm_audio_rms": """
WITH s AS (
  SELECT doc_id, i,
         ord(substr(text, CAST(2*i + 1 AS INTEGER), 1))
           + 256 * ord(substr(text, CAST(2*i + 2 AS INTEGER), 1)) AS sample
  FROM documents,
       LATERAL unnest(range(0, CAST(floor(length(text) / 2) AS BIGINT))) AS t(i)
),
w AS (
  SELECT doc_id, CAST(floor(i / 32) AS INTEGER) AS window_idx,
         count(*) AS n_samples, sum(sample * sample) AS ss
  FROM s GROUP BY 1, 2
)
SELECT doc_id, window_idx, CAST(n_samples AS INTEGER) AS n_samples,
       sqrt(CAST(ss AS DOUBLE) / n_samples) AS rms
FROM w
""",
    "mm_decode_features": """
WITH p AS (
  SELECT doc_id, length(text) AS n,
    CASE WHEN length(text) = 0 THEN 0 ELSE ord(substr(text, 1, 1)) END AS first_b,
    coalesce(CAST(list_sum(list_transform(
      range(1, least(length(text), 64) + 1),
      i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT), 0) AS checks
  FROM documents
)
SELECT doc_id,
  CAST(n AS INTEGER) AS payload_bytes,
  CAST(16 + n % 240 AS INTEGER) AS width,
  CAST(16 + checks % 240 AS INTEGER) AS height,
  CAST(1 + first_b % 3 AS INTEGER) AS n_channels,
  CAST(checks % 256 AS DOUBLE) AS mean_pixel
FROM p
""",
    "mm_binary_meta": """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  md5(text) AS checksum,
  'application/octet-stream' AS mime
FROM documents
""",
    "mm_resize": """
SELECT doc_id,
  CAST(32 AS INTEGER) AS out_w,
  CAST(32 AS INTEGER) AS out_h,
  CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0 ELSE 1024 END AS INTEGER) AS n_bytes
FROM documents
""",
    "mm_frame_sample": """
WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
f AS (
  SELECT doc_id, n, unnest(range(0, greatest(n // 64, 1), 4)) AS frame_idx
  FROM p
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(least(n, 64) AS INTEGER) AS frame_bytes
FROM f
""",
}
