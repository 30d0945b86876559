"""Extra scale-pattern queries.

Overflow module for engine-surface extensions that don't belong to one
domain pack. Its ``QUERIES`` and ``ORACLES`` merge into the registry like
every other domain module's; ``tests/test_oracle_parity.py`` checks each
entry against its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import tokens as tokenize
from ..sources import load_table


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top 50 tokens by document
    frequency. explode -> distinct per doc -> count -> rank. The
    all-docs explode is the canonical shuffle-heavy text op; partial
    aggregation collapses it map-side, and the final top-k is a single
    ordered limit (TakeOrderedAndProject — no global sort materialized).
    Deterministic tiebreak on token asc.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    df_counts = (
        docs.select("doc_id", F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    w = Window.orderBy(F.col("doc_freq").desc(), "token")
    return (
        df_counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("token", "doc_freq", "rank")
    )


def rel_salted_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact count-distinct: two-stage aggregation. Stage 1
    dedups on (key, salt, value) — the hot key's distinct-set build
    spreads over n_salts partitions instead of one straggler — stage 2
    merges per-key counts. Result identical to COUNT(DISTINCT); the
    pattern matters when one group holds most of the values (plain
    count-distinct builds that group's hash set in a single task).
    """
    n_salts = 8
    lineitem = load_table(spark, sf_dir, "lineitem")
    salted = lineitem.select(
        "l_returnflag",
        F.pmod(F.xxhash64("l_orderkey"), F.lit(n_salts)).alias("_salt"),
        "l_orderkey",
    )
    stage1 = salted.distinct()  # hash-agg on (key, salt, value)
    stage2 = (
        stage1.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("distinct_orders"))
    )
    return stage2


def sim_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized brute-force top-k (two-tier ANN scan tier, 4x
    smaller vectors). Quantization uses the portable sign*floor(+0.5)
    formula, so the SQL oracle replays it exactly (quantize, integer dot,
    scale multiply, rank); recall vs the float path is additionally
    pinned in tests/test_dedup_similarity.py."""
    from ..operators.similarity import ann_quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    return ann_quantized_topk(corpus, queries, k=5)


# Email-ish then standalone-number patterns; shared verbatim with the SQL
# oracle (RE2/Java-regex-common subset, no lookarounds).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_NUMBER = r"\b\d{6,}\b"

CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact email-like and long-number tokens, report
    per-doc redaction counts. Pure regexp_replace/regexp scans — full
    scan speed, no Python; the patterns are the shared RE2/Java subset so
    the oracle applies them identically."""
    docs = load_table(spark, sf_dir, "documents")
    after_email = F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>")
    redacted = F.regexp_replace(after_email, _PII_NUMBER, "<NUM>")
    return docs.select(
        "doc_id",
        redacted.alias("redacted_text"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(_PII_NUMBER), 0)).alias("n_numbers"),
    )


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: split each document into overlapping
    token windows (40 tokens, stride 30) — the standard long-document
    prep for fixed-context training. One explode over precomputed chunk
    starts; the token array is materialized once below the explode (the
    word_shingles lesson: higher-order fns get no CSE)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("_toks"))
    tc = F.col("_toks")
    n = F.size(tc)
    # chunk starts: 0, stride, 2*stride, ... while start < n (>=1 chunk)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((n - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE)).cast("int"),
            F.lit(0),
        )
        * F.lit(CHUNK_STRIDE),
        F.lit(CHUNK_STRIDE),
    )
    return (
        toks.select("doc_id", tc.alias("_toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("_toks"), F.col("start") + 1, CHUNK_TOKENS)).alias(
                "chunk_text"
            ),
            F.least(F.size("_toks") - F.col("start"), F.lit(CHUNK_TOKENS)).alias("n_tokens"),
        )
    )


def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker re-expressed as a Spark 4 arrow-optimized Python UDTF
    applied via SQL LATERAL — the table-function API family surfaced as
    a registered query (VERDICT r10 #2). Output is defined IDENTICAL to
    text_chunking's (same tokenizer, same start lattice, same column
    names/types), so the two share one oracle: the driver hash-checks
    that a per-row Python table function reproduces the codegen'd
    explode bit-for-bit. See operators.text.chunk_windows_udtf for why
    the JVM twin stays the production path."""
    from ..operators.text import chunk_windows_udtf

    docs = load_table(spark, sf_dir, "documents")
    spark.udtf.register(
        "chunk_windows", chunk_windows_udtf(CHUNK_TOKENS, CHUNK_STRIDE)
    )
    docs.createOrReplaceTempView("documents_chunk_v")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens "
        "FROM documents_chunk_v d, LATERAL chunk_windows(d.doc_id, d.text) c"
    )


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 8-gram
    with the held-out set (docs 0-9 stand in for the benchmark). The
    standard exact-substring contamination check: shingle both sides,
    equi-join on the shingle — inverted index, never all-pairs; the
    benchmark side is tiny and broadcasts. Output: contaminated doc ids
    with the overlap count."""
    from ..operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    train = docs.filter(F.col("doc_id") >= 10)
    bench_sh = word_shingles(bench, n=8).select("shingle").distinct()
    train_sh = word_shingles(train, n=8)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlapping_shingles"))
    )


def text_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-prefix duplicate groups: documents whose normalized first
    120 characters coincide — the cheap curation pass that catches
    boilerplate-headed families (mirrored pages, templated spam) whole-
    document hashing misses because tails differ. The standard ladder is
    exact dedup -> THIS -> MinHash: each stage removes what the cheaper
    one can't see.

    One scan + one hash agg on the 32-char prefix digest — word-count
    shaped at any scale; carrying the md5 instead of the raw prefix keeps
    shuffle rows fixed-width. min(doc_id) is the keeper convention shared
    with the other dedup queries.
    """
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.lower(F.trim(F.col("text"))), 1, 120)
    return (
        docs.select("doc_id", F.md5(prefix).alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit for the corpus vocabulary: OLS slope of ln(freq) on
    ln(rank) over the top-1000 tokens — the one-number corpus health
    check (natural language sits near -1; templated/synthetic corpora
    drift off, so a drifting slope between ingest snapshots flags a
    contaminated shard before any model sees it).

    Plan: explode -> term-count hash agg (map-side partial) -> rank-1000
    via a row_number window Spark rewrites to a group-limit (no global
    sort materializes) -> ONE 1000-row pass of sums -> slope arithmetic
    on the driver-sized result. Float policy: per-row ln() values are
    floor-rounded to 9 decimals (JVM vs libm last-ulp, the text_tfidf
    policy), all cross-row sums run in exact DECIMAL (order-independent),
    and the closed-form slope derives from those sums with an op
    sequence the oracle mirrors.
    """
    from pyspark.sql import Window

    from ..functions.numeric import display_round

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "term")
    top = tf.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 1000)
    lx = display_round(F.log(F.col("rank").cast("double")), 9)
    ly = display_round(F.log(F.col("cnt").cast("double")), 9)
    dec = "decimal(28,9)"
    sums = top.select(
        lx.alias("lx"), ly.alias("ly")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("lx").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("ly").cast(dec)).cast("double").alias("sy"),
        F.sum(display_round(F.col("lx") * F.col("ly"), 9).cast(dec)).cast("double").alias("sxy"),
        F.sum(display_round(F.col("lx") * F.col("lx"), 9).cast(dec)).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        display_round(slope, 9).alias("zipf_slope"),
        display_round(intercept, 9).alias("zipf_intercept"),
    )


QUERIES = {
    "text_prefix_dup": text_prefix_dup,
    "text_zipf_slope": text_zipf_slope,
    "text_vocab_topk": text_vocab_topk,
    "rel_salted_count_distinct": rel_salted_count_distinct,
    "sim_ann_quantized": sim_ann_quantized,
    "text_pii_redact": text_pii_redact,
    "text_chunking": text_chunking,
    "text_chunk_udtf": text_chunk_udtf,
    "text_decontaminate": text_decontaminate,
}

# Shared by text_chunking and its UDTF twin (one oracle, two engines'
# worth of proof that the chunk table is the declared function of the
# document).
_CHUNK_ORACLE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(range(0,
           greatest(CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS BIGINT), 0)
             * {CHUNK_STRIDE} + 1,
           {CHUNK_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
  CAST(start / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
  array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text,
  CAST(least(len(toks) - start, {CHUNK_TOKENS}) AS INTEGER) AS n_tokens
FROM s
"""

ORACLES = {
    "text_prefix_dup": """
SELECT md5(substr(lower(trim(text)), 1, 120)) AS prefix_hash,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
""",
    "text_zipf_slope": """
WITH tf AS (
  SELECT token AS term, count(*) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
  ) GROUP BY token
),
top AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
  FROM tf QUALIFY rank <= 1000
),
r AS (
  SELECT floor(ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS lx,
         floor(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS ly
  FROM top
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(lx AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ly AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(sum(CAST(floor(lx * ly * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(floor(lx * lx * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS sxx
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_terms,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e9 + 0.5) / 1e9 AS zipf_slope,
       floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n * 1e9 + 0.5) / 1e9
         AS zipf_intercept
FROM s
""",
    "text_vocab_topk": """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
freq AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token)
SELECT token, doc_freq, CAST(rank AS INTEGER) AS rank FROM (
  SELECT token, doc_freq,
         row_number() OVER (ORDER BY doc_freq DESC, token) AS rank
  FROM freq
) WHERE rank <= 50
""",
    "rel_salted_count_distinct": """
SELECT l_returnflag, count(DISTINCT l_orderkey) AS distinct_orders
FROM lineitem GROUP BY l_returnflag
""",
    "sim_ann_quantized": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q8 AS (
  SELECT vec_id,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
         list_transform(v, x ->
           CAST(CASE WHEN x < 0 THEN -1 ELSE CASE WHEN x > 0 THEN 1 ELSE 0 END END
                * floor(abs(x) / greatest(list_max(list_transform(v, y -> abs(y))) / 127.0, 1e-30) + 0.5)
                AS BIGINT)) AS qv
  FROM e
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(list_transform(c.qv, x -> CAST(x AS DOUBLE)),
                               list_transform(q.qv, x -> CAST(x AS DOUBLE))) AS DOUBLE)
         * c.scale * q.scale AS score
  FROM q8 q JOIN q8 c ON q.vec_id < 20 AND c.vec_id >= 20
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 5
""",
    "text_pii_redact": """
WITH e AS (
  SELECT doc_id, text,
         regexp_replace(text, '{EMAIL}', '<EMAIL>', 'g') AS after_email
  FROM documents
)
SELECT doc_id,
  regexp_replace(after_email, '{NUM}', '<NUM>', 'g') AS redacted_text,
  CAST(len(regexp_extract_all(text, '{EMAIL}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(after_email, '{NUM}')) AS INTEGER) AS n_numbers
FROM e
""".replace("{EMAIL}", _PII_EMAIL).replace("{NUM}", _PII_NUMBER),
    "text_chunking": _CHUNK_ORACLE_SQL,
    # the UDTF twin is DEFINED to produce the identical chunk table, so
    # it shares the oracle verbatim — the hash check proves the per-row
    # Python table function == the codegen'd explode
    "text_chunk_udtf": _CHUNK_ORACLE_SQL,
    "text_decontaminate": """
WITH w8 AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i : i + 7], ' ') AS shingle
  FROM w8, UNNEST(range(1, len(w) - 6)) u(i)
  WHERE len(w) >= 8
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
SELECT t.doc_id, count(*) AS n_overlapping_shingles
FROM sh t JOIN bench USING (shingle)
WHERE t.doc_id >= 10
GROUP BY t.doc_id
""",
}
