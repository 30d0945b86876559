"""Text-analysis operators for training-data curation.

All built-in Catalyst expressions (split/filter/aggregate higher-order
functions) - no Python in the hot path, so these run at full scan speed
over a 100 TB corpus with column pruning (only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es": ("el", "la", "de", "que", "los", "una", "es"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans"),
}
_CJK_PATTERN = r"[\x{4e00}-\x{9fff}]"


# GPT-2-style pre-tokenizer pattern, simplified to the lookahead-free
# subset shared by Java regex (Spark) and RE2 (DuckDB oracle):
# contraction suffixes | space?-letters | space?-digits | space?-other.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"

# Rolling-hash constants: acc < MOD=2^31-1 and token hashes < 2^32, so
# acc*BASE + h < 2.2e15 — safe under int64 even with ANSI overflow checks.
_FP_BASE = 1000003
_FP_MOD = (1 << 31) - 1


def tokens(text_col: Column) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def weighted_reservoir(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "#aes",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of exactly ``n`` rows —
    Efraimidis–Spirakis algorithm A-ES (exponential sort), the sampling
    class the engine's other samplers don't cover: weighted_sample is
    Bernoulli (random size), stratified/fixed-N are per-group uniform,
    the Poisson bootstrap is WITH replacement.

    Each row draws rank = -ln(u)/w — an Exponential(w) variate — and
    the ``n`` smallest ranks are a weight-proportional
    without-replacement sample (the exponential race: at every step the
    minimum of the remaining Exponential(w_i) picks item i with
    probability w_i / sum(remaining w), which is exactly sequential
    weighted draws without replacement). This is the standard
    distributed formulation because it needs NO global state: one scan
    computes keys, an ordered limit (TakeOrderedAndProject — per-
    partition top-n heaps, never a global sort) keeps the n smallest at
    any corpus size.

    Deterministic/engine-portable per the repo's float policy: u is the
    salted-md5 32-bit uniform (+0.5 offset so u is never 0), the key is
    floor-latticed to integer nanos before ranking, and ties break on
    the id — both engines rank the same integers. The JVM-ln vs libm-ln
    last-ulp floor-boundary exposure is the acknowledged DSIR-class
    risk, O(rows) here (one log per row, not per token).

    Rows with non-positive weight (e.g. token count of a NULL text) are
    excluded — zero mass cannot be drawn. Output: the input columns +
    ``aes_key_nano``, the n sampled rows.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key_nano = F.floor(
        -F.log(u) / F.col(weight_col).cast("double") * F.lit(1e9)
    ).cast("long")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("aes_key_nano", key_nano)
        .orderBy("aes_key_nano", id_col)
        .limit(n)
    )


def chunk_windows_udtf(chunk_tokens: int = 40, stride: int = 30):
    """Arrow-optimized Python UDTF (Spark 4 table function): explode one
    document row into its overlapping token-window chunks — the
    one-row-in / N-typed-rows-out shape that scalar UDFs cannot express
    and that SQL `LATERAL udtf(...)` surfaces directly (VERDICT r10 #2:
    the last Spark 4 Python API family the engine had not exercised,
    after VARIANT / recursive CTE / LATERAL / DataSource v2 /
    transformWithState).

    Semantics are defined to be IDENTICAL to the JVM chunker
    (queries.extras.text_chunking): same whitespace tokenizer
    (split(lower(trim(text)), '\\s+') — including the [''] single
    empty-token result for whitespace-only text, and no rows for NULL
    text), same epoch-aligned start lattice 0, stride, ... through
    max(ceil((n - chunk)/stride), 0)*stride. The two are proven equal by
    sharing one DuckDB oracle. The JVM twin remains the production
    path — per-row Python, even Arrow-batched, cannot beat a codegen'd
    explode — this is the API-surface exercise, pinned in the Python-
    stage census like every other deliberate Python stage.
    """
    import math as _math
    import re as _re

    from pyspark.sql.functions import udtf

    class ChunkWindows:
        def eval(self, doc_id, text):
            if text is None:
                return
            toks = _re.split(r"\s+", text.lower().strip())
            n = len(toks)
            last = max(_math.ceil((n - chunk_tokens) / stride), 0) * stride
            for start in range(0, last + 1, stride):
                yield (
                    doc_id,
                    start // stride,
                    " ".join(toks[start : start + chunk_tokens]),
                    min(n - start, chunk_tokens),
                )

    return udtf(
        ChunkWindows,
        returnType="doc_id bigint, chunk_idx int, chunk_text string, n_tokens int",
        useArrow=True,
    )


def bpe_token_count(text_col: Column) -> Column:
    """BPE-ish token count: matches of the GPT-2-style word/number/punct
    regex (the pre-merge segmentation; real BPE merges only split further,
    so this is the standard cheap proxy for LLM token budgeting)."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_PATTERN), 0))


def rolling_hash(text_col: Column) -> Column:
    """Order-SENSITIVE polynomial rolling hash over the token stream
    (Rabin-Karp fold): h = fold(acc * B + md5_32(token) mod P). Unlike the
    bag-of-words md5 fingerprint, token reordering changes this hash.
    Engine-portable: md5 is standard everywhere (vs xxhash64), and the
    fold is exact int64 arithmetic."""
    toks = tokens(text_col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * F.lit(_FP_BASE)
            + F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        )
        % F.lit(_FP_MOD),
    )


def _hit_count(toks: Column, words: tuple[str, ...]) -> Column:
    """Non-distinct count of tokens contained in a marker set."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, regex words, chars, mean length."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    total_token_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_bpe_tokens": bpe_token_count(F.col(text_col)),
            "n_chars_measured": F.length(text_col),
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "avg_token_len": total_token_chars.cast("double") / n_tokens,
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: stopword ratio, punctuation density,
    lexical diversity, length factor -> blended [0,1] score.

    Every ratio is an int/int division => bit-identical across engines.
    Zero denominators (empty text; the tokenizer never yields an empty
    array, but the guard keeps the expression total) are NULLIF'd so the
    ratios — and therefore ``quality`` — come back NULL instead of
    raising DIVIDE_BY_ZERO under ANSI mode. That matters in streaming:
    an unguarded division would kill ``curation_stream`` and checkpoint
    restart would replay the same poison record forever. NULL quality
    fails any ``quality >= t`` filter, so empty docs are simply dropped.
    """
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    denom_tokens = F.nullif(n_tokens, F.lit(0))
    stop_ratio = _hit_count(toks, STOPWORDS_EN).cast("double") / denom_tokens
    n_punct = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), r"[.,!?;:]", "")
    )
    punct_ratio = n_punct.cast("double") / F.nullif(F.length(text_col), F.lit(0))
    diversity = F.size(F.array_distinct(toks)).cast("double") / denom_tokens
    length_factor = F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.3) * stop_ratio
        + F.lit(0.3) * diversity
        + F.lit(0.3) * length_factor
        - F.lit(0.1) * punct_ratio
    )
    return df.withColumns(
        {
            "stopword_ratio": stop_ratio,
            "punct_ratio": punct_ratio,
            "lexical_diversity": diversity,
            "length_factor": length_factor,
            "quality": score,
        }
    )


def quality_filter(df: DataFrame, min_quality: float = 0.33, text_col: str = "text") -> DataFrame:
    """The curation pipelines' quality gate: the rows whose
    :func:`quality_score` reaches ``min_quality``, score columns attached
    (NULL quality, i.e. empty text, fails the gate). Shared by the batch
    pipelines (``queries.dedup.pipeline_*``) and
    ``streaming.jobs.curation_stream``."""
    return quality_score(df, text_col=text_col).filter(F.col("quality") >= min_quality)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_stopword_hits: int = 2,
    max_top_word_pct: int = 15,
    max_punct_per_10_words: int = 1,
) -> DataFrame:
    """Gopher-style quality rule battery [Rae et al. 2021 §A1.1]: the
    named PASS/FAIL gates (with reasons) that corpus curation applies
    BEFORE any blended score — a doc is dropped when any gate fails,
    and the per-rule booleans say why, which the single ``quality``
    scalar of ``quality_score`` cannot.

    Unlike the blended score, every gate here is decided in INTEGER
    arithmetic (``3*n <= sum_len`` instead of ``sum_len/n >= 3``), so
    the pass/fail boundary is bit-exact on any engine — no float
    threshold can flicker. Rules (defaults adapted to this corpus):

    - ``rule_len``: token count in [min_tokens, max_tokens]
    - ``rule_word_len``: mean word length in [3, 10]
    - ``rule_stopwords``: >= 2 stopword hits (the "has glue words" gate)
    - ``rule_top_word``: most frequent word <= 15% of tokens (the
      repetition gate; Gopher's top-n-gram family at n=1)
    - ``rule_symbols``: punctuation chars <= 1 per 10 words (the
      symbol-to-word gate)

    Plan: FULLY STATELESS — every gate, including top-word dominance, is
    a per-row array expression, so the whole battery runs at scan speed
    with ZERO exchanges and is streaming-safe as-is (stateless exprs run
    identically under a micro-batch runner; pinned by
    tests/test_streaming.py::test_gopher_gates_stream_matches_batch).
    The dominance count is the max run length over the SORTED token
    array (a fold with a (prev, run, best) struct accumulator — O(n)
    per row, no explode, no per-doc shuffle). The token array is
    projected ONCE before the fold lambdas (higher-order functions have
    no subexpression elimination — see word_shingles' measured 13x
    note). A NULL-text doc stays IN the output with every gate False (a
    drop battery that silently loses the doc instead of recording why
    it failed would defeat its own accounting) via NULL-to-False
    coalescing.
    """
    toked = df.withColumn("_toks", tokens(F.col(text_col)))
    tc = F.col("_toks")

    def _run_step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    top_cnt = F.aggregate(
        F.array_sort(tc),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        _run_step,
        lambda acc: acc.best,
    )
    base = toked.withColumns(
        {
            "_n": F.size(tc),
            "_sum_len": F.aggregate(
                F.transform(tc, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
            ),
            "_stop": _hit_count(tc, STOPWORDS_EN),
            "_punct": F.length(text_col)
            - F.length(F.regexp_replace(F.col(text_col), r"[.,!?;:]", "")),
            "_top_cnt": top_cnt,
        }
    )
    rules = {
        "rule_len": (F.col("_n") >= min_tokens) & (F.col("_n") <= max_tokens),
        "rule_word_len": (
            F.col("_sum_len") >= min_mean_word_len * F.col("_n")
        )
        & (F.col("_sum_len") <= max_mean_word_len * F.col("_n")),
        "rule_stopwords": F.col("_stop") >= min_stopword_hits,
        "rule_top_word": F.lit(100) * F.col("_top_cnt")
        <= F.lit(max_top_word_pct) * F.col("_n"),
        "rule_symbols": F.lit(10) * F.col("_punct")
        <= F.lit(max_punct_per_10_words) * F.col("_n"),
    }
    # NULL text => NULL token stats => NULL gate comparisons: coalesce
    # each gate to False so the doc fails with reasons instead of
    # dropping out.
    rules = {k: F.coalesce(v, F.lit(False)) for k, v in rules.items()}
    passes = None
    for expr in rules.values():
        passes = expr if passes is None else (passes & expr)
    return (
        base.withColumns(rules)
        .withColumn("passes_gopher", passes)
        .withColumn("n_tokens", F.col("_n"))
        .drop("_toks", "_n", "_sum_len", "_stop", "_punct", "_top_cnt")
    )


def hash_bucket_100(id_col: Column) -> Column:
    """Deterministic 0-99 bucket from an id: md5 first-8-hex-digits mod
    100. Engine-portable (DuckDB derives the identical assignment) and
    stable under re-partitioning — the primitive behind hash splits and
    stratified sampling."""
    return F.pmod(
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(100),
    )


def stratified_sample(
    df: DataFrame,
    rates_pct: dict[str, int],
    default_pct: int = 100,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket < the stratum's percentage.

    The training-data mixing primitive: rebalance an over-represented
    stratum (e.g. English web text) against the rest without an RNG —
    hash-based keeps are reproducible across runs, engines, and
    partitionings. Stateless filter at scan speed: no shuffle, no state,
    trivially parallel at 100 TB.

    ``salt`` decorrelates this keep decision from every OTHER hash-bucket
    decision on the same ids: with the default empty salt, the sample
    shares ``hash_bucket_100(id)`` with the train/val/test split, so a
    50% sample of the 10% val split is a nested (fully correlated)
    subset; with a distinct salt (md5 input becomes ``id || salt``) the
    two bucket assignments are independent and a p% sample keeps ~p% of
    EVERY split (pinned by
    tests/test_text_ops.py::test_salted_sample_independent_of_split).
    """
    salted = (
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
        if salt
        else F.col(id_col)
    )
    bucket = hash_bucket_100(salted)
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "#shuffle",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    pseudo-random position 0..N-1 derived from ``md5(id || salt)`` — the
    standard RNG-free corpus shuffle (reproducible across runs, engines,
    partitionings; a different salt gives an independent epoch order).

    A naive ``row_number() OVER (ORDER BY key)`` funnels the corpus
    through ONE task. Instead: the first two hex digits of the key form
    256 coarse buckets whose numeric order equals the key's lexicographic
    order (lowercase hex), so the global rank decomposes into a running
    offset over the tiny 256-row bucket-count table plus a row_number
    windowed PARTITIONED by bucket — the same hierarchical two-pass as
    :func:`pack_token_shards`; no task ever sees the whole corpus.
    Bit-identical to the single-window SQL, which is what the oracle runs.

    Output adds ``shuffle_key`` and ``shuffle_pos`` (0-based).
    """
    from pyspark.sql import Window

    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    tagged = df.withColumn("shuffle_key", key).withColumn(
        "_b", F.conv(F.substring("shuffle_key", 1, 2), 16, 10).cast("int")
    )
    in_bucket_w = Window.partitionBy("_b").orderBy("shuffle_key", id_col)
    bucket_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(bucket_w), F.lit(0)))
        .select("_b", "_off")
    )
    return (
        tagged.join(F.broadcast(offsets), "_b")
        .withColumn(
            "shuffle_pos",
            (F.col("_off") + F.row_number().over(in_bucket_w) - 1).cast("long"),
        )
        .drop("_b", "_off")
    )


def pack_token_shards(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    tok_col: str = "n_tok",
    coarse: int = 1024,
) -> DataFrame:
    """Contiguous token-offset shard planning in id order: each document
    gets its global token offset (sum of all earlier docs' tokens) and a
    shard id ``floor(offset / budget)`` — the layout step for packing a
    corpus into ~budget-token training shards.

    A naive ``SUM() OVER (ORDER BY id)`` funnels the whole corpus through
    ONE task (global sort window). This is the hierarchical two-pass
    instead (same trick as streaming.jobs.with_contiguous_row_ids): docs
    are coarse-bucketed by ``id div coarse``; pass 1 computes per-bucket
    token sums and a running offset across the (corpus/coarse, tiny)
    bucket table; pass 2 computes the within-bucket cumulative sum with a
    window PARTITIONED by bucket. Every window runs over a bounded
    partition; the only broadcast is the bucket-offset table.

    Output adds ``token_offset`` (tokens before this doc) and
    ``shard_id``. Deterministic given the id order — bit-identical to the
    single-window SQL formulation, which is exactly what the oracle runs.
    """
    from pyspark.sql import Window

    b = F.floor(F.col(id_col) / F.lit(coarse)).alias("_b")
    tagged = df.withColumn("_b", b)
    in_bucket_w = (
        Window.partitionBy("_b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("_b")
        .agg(F.sum(tok_col).alias("_bucket_tok"))
        .withColumn("_bucket_off", F.coalesce(F.sum("_bucket_tok").over(bucket_w), F.lit(0)))
        .select("_b", "_bucket_off")
    )
    return (
        tagged.join(F.broadcast(offsets), "_b")
        .withColumn(
            "token_offset",
            (
                F.col("_bucket_off")
                + F.coalesce(F.sum(tok_col).over(in_bucket_w), F.lit(0))
            ).cast("long"),
        )
        .withColumn("shard_id", F.floor(F.col("token_offset") / F.lit(budget)))
        .drop("_b", "_bucket_off")
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition: fraction of duplicated word 3-grams —
    the classic C4/Gopher-style quality signal for boilerplate and
    looping generations. Pure higher-order functions (sequence +
    transform + array_distinct): scan-speed, no Python, no shuffle.

    ``repetition_ratio`` = 1 - distinct/total 3-grams (0.0 for docs with
    fewer than 3 tokens — nothing to repeat).
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    trigrams = F.when(n >= 3, F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )).otherwise(F.array().cast("array<string>"))
    n_tri = F.size(trigrams)
    n_distinct = F.size(F.array_distinct(trigrams))
    ratio = F.when(
        n_tri > 0, F.lit(1.0) - n_distinct.cast("double") / n_tri
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "n_trigrams": n_tri,
            "n_distinct_trigrams": n_distinct,
            "repetition_ratio": ratio,
        }
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Cross-document exact-substring duplication signal [Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"]: for each
    document, the fraction of its k-token spans that also occur verbatim
    in at least one OTHER document. High scorers are boilerplate carriers
    (licenses, navigation chrome, templated text) that survive
    document-level dedup because the surrounding text differs —
    complementary to both exact dedup (whole-doc) and MinHash (whole-doc
    near-dup); intra-document repetition is :func:`repetition_stats`.

    Pipeline: explode per-position span fingerprints (md5 of the
    space-joined k-token window — engine-portable, the same hash family
    as every other oracle-checked op) -> per-fingerprint distinct-doc
    count (hash agg) -> join back -> per-doc agg. Word-count-shaped like
    the shingle pipelines: no all-pairs join anywhere, cost ~ corpus
    token count; suffix arrays (the paper's tool) don't distribute,
    fingerprint buckets do.

    The token array and the span array are materialized as projections
    BEFORE the explode (higher-order fns get no common-subexpression
    elimination — same measured trap as :func:`word_shingles`), and the
    fingerprint is the first 16 md5 hex chars (64 bits — string half as
    wide through the shuffle; cross-doc collisions are ~|spans|^2/2^65,
    noise for a fraction-valued signal, and the oracle truncates
    identically so parity is exact). Since the r15 window rewrite the
    span table has a single consumer, so no persist (and no caching
    contract) is needed.

    Output: one row per input doc — n_spans (0 for docs shorter than
    ``k`` tokens), n_dup_spans, dup_span_fraction (0.0 when no spans).
    """
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    tc = F.col("_toks")
    spans = F.when(
        F.size(tc) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(tc) - k),
            lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(tc, i + 1, k))), 1, 16),
        ),
    ).otherwise(F.array().cast("array<string>"))
    span_rows = toks_df.select(F.col(id_col), F.explode(spans).alias("fp"))
    # Cross-document test as ONE window over the fingerprint partition
    # (r15 optimization, guide §2.3/§2.4): "fp occurs in >= 2 distinct
    # docs" is exactly min(doc) != max(doc) over the fp's occurrence
    # rows — intra-document repeats cannot move either extreme, so the
    # old distinct -> count -> join-back (three full passes over the
    # span table) collapses to one exchange. span_rows now has a single
    # consumer, so its persist() (which guarded the md5 transform
    # against the two-branch recompute) is gone too. REGIME-SPLIT r16
    # (ADVICE r15 #1): above the hot-key input threshold the min/max agg
    # + join-back returns — a boilerplate span fingerprint at corpus
    # scale is one unsplittable window-partition straggler, while the
    # join form collapses hot fps map-side and its probe side is
    # AQE-skew-splittable. Same _dup per row; pinned by test.
    from pyspark.sql import Window

    from ..functions.scale import hot_key_agg_mode

    if hot_key_agg_mode(df) == "window":
        w_fp = Window.partitionBy("fp")
        dup_rows = span_rows.withColumn(
            "_dup", F.min(id_col).over(w_fp) != F.max(id_col).over(w_fp)
        )
    else:
        spread = span_rows.groupBy("fp").agg(
            (F.min(id_col) != F.max(id_col)).alias("_dup")
        )
        dup_rows = span_rows.join(spread, "fp")
    per_doc = (
        dup_rows.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).alias("n_dup_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("int").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_fraction"),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/marker-word language ID heuristic.

    CJK codepoints => zh; otherwise argmax of per-language marker-word hit
    counts with a fixed priority ladder (de > es > fr > en) for ties;
    no hits at all => 'und' (undetermined).
    """
    toks = tokens(F.col(text_col))
    hits = {lang: _hit_count(toks, words) for lang, words in _LANG_MARKERS.items()}
    best_non_en = F.greatest(hits["de"], hits["es"], hits["fr"])
    pred = (
        F.when(F.col(text_col).rlike(_CJK_PATTERN), "zh")
        .when((hits["de"] >= best_non_en) & (hits["de"] > hits["en"]), "de")
        .when((hits["es"] >= F.greatest(hits["fr"], hits["en"])) & (hits["es"] > 0), "es")
        .when((hits["fr"] >= hits["en"]) & (hits["fr"] > 0), "fr")
        .when(hits["en"] > 0, "en")
        .otherwise("und")
    )
    return df.withColumn("lang_pred", pred)


def _marker_hash32(word: str) -> int:
    """Python-side twin of the engine's md5-prefix token hash (first 8
    hex chars as an int) — used to pre-hash marker profiles at build
    time so the runtime gate compares LONGS, never strings."""
    import hashlib

    return int(hashlib.md5(word.encode()).hexdigest()[:8], 16)


_LANG_MARKER_HASHES: dict[str, tuple[int, ...]] = {
    lang: tuple(_marker_hash32(w) for w in words)
    for lang, words in _LANG_MARKERS.items()
}


def langid_hash_gate(
    df: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    min_hits: int = 1,
    min_permille: int = 50,
) -> DataFrame:
    """Hash-based language-ID GATE (r14, VERDICT r13 #2a): a filter
    stage — where :func:`lang_id` classifies every doc, this DROPS the
    docs that aren't confidently ``lang``, the shape every monolingual
    curation pipeline puts in FRONT of its quality battery.

    "Hash-based": each token is hashed once (md5-prefix → 32-bit int)
    and the language profiles are PRE-HASHED marker sets
    (``_LANG_MARKER_HASHES``, computed at build time with the identical
    md5), so the per-token membership test compares longs against a
    fixed int set — at 100 TB the gate never compares strings, and the
    same hashed-feature stream could feed any number of downstream
    hashed models (the DSIR lesson) without re-reading text. The hash
    array is projected ONCE before the four profile filters
    (higher-order functions have no subexpression elimination — the
    word_shingles 13x lesson).

    A doc passes iff (integer arithmetic throughout — the gopher_rules
    bit-exactness policy):

    - no CJK codepoint (those route to the zh pipeline),
    - target-profile hits >= every other profile's hits (dominance),
    - hits >= ``min_hits`` (at least some positive evidence), and
    - 1000·hits >= ``min_permille``·n_tokens (marker density — one
      stray function word in junk must not pass).

    NULL text fails every conjunct (NULL comparisons are falsy in a
    filter) and is dropped — a gate, unlike the gopher battery's
    accounting, is SUPPOSED to lose undecidable docs. Survivors carry
    ``gate_hits`` (the target-profile hit count). Stateless per-row
    array expressions: the gate runs at scan speed, zero exchanges,
    streaming-safe as-is.
    """
    toked = df.withColumn(
        "_th",
        F.transform(
            tokens(F.col(text_col)),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
        ),
    )
    th = F.col("_th")
    hits = {
        lg: F.size(F.filter(th, lambda h: h.isin(*hs)))
        for lg, hs in _LANG_MARKER_HASHES.items()
    }
    others = F.greatest(*[hits[lg] for lg in _LANG_MARKER_HASHES if lg != lang])
    keep = (
        ~F.col(text_col).rlike(_CJK_PATTERN)
        & (hits[lang] >= others)
        & (hits[lang] >= F.lit(min_hits))
        & (F.lit(1000) * hits[lang] >= F.lit(min_permille) * F.size(th))
    )
    return (
        toked.withColumn("gate_hits", hits[lang].cast("int"))
        .filter(keep)
        .drop("_th")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set (bag-of-words identity; catches shuffled near-identical docs).
    """
    toks = tokens(F.col(text_col))
    normalized = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return df.withColumns(
        {
            "fingerprint": F.md5(normalized),
            "rolling_fp": rolling_hash(F.col(text_col)),
        }
    )


def weighted_sample(
    df: DataFrame,
    weight_permille: Column,
    id_col: str = "doc_id",
    salt: str = "#wsample",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability ``weight_permille / 1000``, where the weight is any
    integer column expression in [0, 1000] (0 = never, 1000 = always).

    The training-data weighting primitive — e.g. sample web text with
    probability proportional to a quality score, so high-quality docs
    survive curation at a higher rate — implemented with NO RNG: the keep
    decision compares a per-row md5-derived uniform in [0, 1000) against
    the row's own threshold. Same integer-hash machinery as
    :func:`hash_bucket_100` (1000 buckets for per-mille resolution,
    salted so the decision is independent of the split/sample buckets on
    the same ids). Deterministic across runs, engines, partitionings;
    E[kept] = sum(weight)/1000 (binomially concentrated). Stateless
    scan-speed filter: no shuffle, no state, trivially parallel.
    """
    salted = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    u = F.pmod(
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long"),
        F.lit(1000),
    )
    return df.withColumn("_w", weight_permille).filter(u < F.col("_w")).drop("_w")


def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Shannon character entropy per document — the classic cheap quality
    signal (gibberish and boilerplate sit at the distribution's tails;
    compression-ratio filters approximate exactly this quantity).

    Word-count plan shape: explode to (id, char) rows, hash-aggregate
    counts (map-side partial combine collapses each task's rows to its
    distinct (id, char) pairs), then one per-doc aggregate computes
    H = log2(n) - sum(c_i * log2(c_i)) / n
    — algebraically -sum(p_i log2 p_i) but with one log per DISTINCT
    char instead of one per char occurrence. Scales like total corpus
    characters; no window, no driver state.

    Output: (id, n_chars_counted, n_distinct_chars, char_entropy).
    Callers wanting hash-stable display values round the entropy (the
    only order-dependent float sum here) to 9 decimals via
    functions.numeric.display_round, the text_tfidf policy.
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.length("ch") > 0)
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt")
    return counts.groupBy(id_col).agg(
        n.alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        (F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n).alias("char_entropy"),
    )


def source_quality_filter(
    df: DataFrame,
    threshold: float = 0.33,
    source_col: str = "source",
) -> DataFrame:
    """Domain/source-level curation verdicts: aggregate per-document
    quality to its source and keep/drop WHOLE sources (the
    RefinedWeb/C4-style domain filter — per-document scores are noisy,
    but a source whose MEAN quality is low is boilerplate/spam and every
    document from it goes).

    The mean is exact and order-independent: each doc's quality (itself
    bit-exact int/int arithmetic from :func:`quality_score`) is
    floor-rounded to a 1e-9 integer lattice and summed as LONGS, so the
    per-source mean is identical in any engine at any parallelism — no
    float-accumulation-order hazard even across 10^9-doc sources.

    Output: (source, n_docs, mean_quality, kept). Join ``kept`` back to
    the corpus (broadcast: |sources| << |docs|) to apply the filter.
    """
    qdf = quality_score(df)
    q9 = F.floor(F.col("quality") * 1e9 + F.lit(0.5)).cast("long")
    per_source = (
        qdf.select(F.col(source_col).alias("source"), q9.alias("q9"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("q9").alias("sum_q9"))
    )
    mean_q = F.col("sum_q9").cast("double") / F.col("n_docs") / 1e9
    return per_source.select(
        "source",
        "n_docs",
        mean_q.alias("mean_quality"),
        (mean_q >= F.lit(threshold)).alias("kept"),
    )


BPE_SEP = "\x1f"  # unit separator — cannot appear in [a-z]+ words


def bpe_train_merges(
    docs: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """BPE tokenizer TRAINING, ``n_merges`` unrolled merge iterations —
    the loop that turns text_bpe_pair_counts's one statistic into a
    learned vocabulary (Sennrich 2016). Each iteration: count adjacent
    symbol pairs corpus-wide (weighted by word frequency), pick the most
    frequent pair (ties: lexicographically smallest), merge it in every
    word, repeat on the merged symbols. Output: one row per learned
    merge (step, left_sym, right_sym, n_pairs).

    Scale shape per iteration — everything runs on the DISTINCT-WORD
    table (vocabulary-sized, Heaps' law, NOT corpus-sized; the one
    corpus scan is the initial word count): an adjacent-pair explode +
    hash agg, a 1-row TakeOrderedAndProject argmax (per-partition heaps,
    no global sort), and the argmax broadcast back via a 1-row cross
    join driving a string replace. No driver round-trip: the chosen pair
    stays a DataFrame, so all ``n_merges`` iterations compile into ONE
    lazy plan (like rel_pagerank_coparts's unrolled Pregel steps);
    the per-step word state is localCheckpoint()-ed so step k's agg
    neither recomputes nor re-ANALYZES steps 1..k-1 (r16 — the unrolled
    chain's driver-side analysis was the measured fixed cost).

    Exactness: words are the ``tokens()`` stream restricted to
    ``^[a-z]+$`` (guarantees the \\x1f separator never collides). A
    word's symbol state is a separator-framed string (sep+sym+sep per
    symbol, so every symbol is boundary-anchored); merging is
    ``replace(sep a sep sep b sep -> sep ab sep)`` whose left-to-right
    non-overlapping scan IS greedy leftmost BPE merging — and the exact
    op sequence the SQL oracle replays (verified: '.a..a..a..a.' merges
    to '.aa..aa.' identically in Spark and DuckDB). Counts are integer,
    the argmax tiebreak total — every step is engine-exact, so the
    full training trajectory hash-checks.
    """
    merges, _final = _bpe_merge_steps(_bpe_word_state(docs, text_col), n_merges)
    return merges


def _bpe_word_state(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Initial BPE state: one row per distinct corpus word (Heaps-law
    sized) with its frequency ``n`` and separator-framed symbol string
    ``repr`` (sep+sym+sep per symbol; see bpe_train_merges docstring)."""
    s = F.lit(BPE_SEP)
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "word",
            "n",
            F.concat(
                s, F.array_join(F.split("word", ""), BPE_SEP * 2), s
            ).alias("repr"),
        )
        .persist()
    )


def _bpe_merge_steps(
    cur: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """The shared BPE merge loop (training AND encoding run it): per
    step, count adjacent pairs weighted by ``n``, argmax (ties lexicographic),
    apply the winning merge to every ``repr``. Returns (the learned
    (step, left_sym, right_sym, n_pairs) trajectory, the post-merge word
    state with every non-``repr`` column of ``cur`` carried through).
    Plan shape per step is unchanged from the original trainer: explode +
    hash agg on the vocabulary-sized state, a 1-row TakeOrderedAndProject
    argmax broadcast back into a string replace — ONE lazy plan overall.
    """
    s = F.lit(BPE_SEP)
    carry = [c for c in cur.columns if c != "repr"]
    out: DataFrame | None = None
    for step in range(1, n_merges + 1):
        syms = F.filter(F.split(F.col("repr"), BPE_SEP), lambda x: x != "")
        tail = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))
        # zip_with pads the shorter side with NULL: the (last, NULL) pair
        # marks the word end and is dropped below.
        pairs = F.zip_with(syms, tail, lambda x, y: F.struct(x.alias("a"), y.alias("b")))
        counts = (
            cur.select("n", F.explode(pairs).alias("p"))
            .filter(F.col("p.b").isNotNull())
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("n_pairs"))
        )
        top1 = counts.orderBy(F.col("n_pairs").desc(), "a", "b").limit(1).persist()
        step_row = top1.select(
            F.lit(step).alias("step"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            "n_pairs",
        )
        out = step_row if out is None else out.unionByName(step_row)
        # pick is ALWAYS exactly one row — (NULL, NULL) when the step found
        # no pair at all (vocabulary already fully merged, possible on tiny
        # corpora). A bare crossJoin(top1) would be a crossJoin with an
        # EMPTY frame there and silently wipe the whole word state; the
        # NULL guard keeps repr unchanged instead. The fallback rides the
        # same TakeOrderedAndProject shape (nulls last), adding no
        # exchange — a 1-row agg here would cost one per step.
        fallback = cur.sparkSession.range(1).select(
            F.lit(None).cast("string").alias("a"),
            F.lit(None).cast("string").alias("b"),
            F.lit(None).cast("long").alias("n_pairs"),
        )
        pick = (
            top1.unionByName(fallback)
            .orderBy(F.col("n_pairs").desc_nulls_last(), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        cur = (
            cur.crossJoin(F.broadcast(pick))
            .select(
                *carry,
                F.when(F.col("a").isNull(), F.col("repr"))
                .otherwise(
                    F.replace(
                        F.col("repr"),
                        F.concat(s, F.col("a"), s, s, F.col("b"), s),
                        F.concat(s, F.col("a"), F.col("b"), s),
                    )
                )
                .alias("repr"),
            )
            # localCheckpoint, not persist (r16, VERDICT r15 #6): persist
            # keeps the full logical lineage, so every Dataset built in
            # step k re-analyzes steps 1..k-1 — the unrolled chain's
            # ~1.2 s/run driver-side analysis cost that no executor
            # parallelism can touch (PERF_r15 measured text_bpe_encode
            # core-scaling 0.64 = driver-bound). The eager checkpoint
            # cuts the plan at each step: analysis depth is bounded per
            # step instead of growing with the chain, execute-time
            # variance collapses (the merge jobs run once, here), and
            # the interleaved A/B measured 2.5 -> 2.2 s total at sf0.1
            # with bit-identical output. Trade: a local checkpoint is
            # not fault-tolerant — acceptable for the VOCABULARY-sized
            # merge state (Heaps' law, never corpus-sized; a lost
            # executor costs one deterministic re-run of the query).
            .localCheckpoint()
        )
    if out is None:  # n_merges=0: character tokenization, no learned merges
        out = cur.sparkSession.createDataFrame(
            [], "step int, left_sym string, right_sym string, n_pairs long"
        )
    return out, cur


def bpe_encode_counts(
    docs: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """BPE tokenizer APPLICATION — train ``n_merges`` merges on the corpus
    (the exact bpe_train_merges trajectory), then ENCODE every document
    under the learned vocabulary: per doc, how many whitespace words fed
    the tokenizer, how many characters they held, and how many BPE tokens
    they encode to after the merges. n_bpe_tokens/n_words is the fertility
    of the learned tokenizer on its own training corpus — the number a
    tokenizer-budget plan is built on.

    Scale shape: encoding does NOT touch the corpus per merge step — the
    merges apply to the DISTINCT-WORD state (vocabulary-sized), and the
    corpus is reduced once to (doc_id, word, cnt) by a hash agg, then
    equi-joined with the encoded vocabulary (a shuffle join on ``word``;
    both sides are already partitioned by word at 100 TB if the corpus
    token table is bucketed). Greedy-leftmost merge semantics and their
    engine-exactness are inherited from _bpe_merge_steps.
    """
    s = F.lit(BPE_SEP)
    # ONE corpus scan: (doc_id, word, cnt), persisted — both the training
    # state (word totals) and the encode join derive from it.
    doc_words = (
        docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    state = (
        doc_words.groupBy("word")
        .agg(F.sum("cnt").alias("n"))
        .select(
            "word",
            "n",
            F.concat(
                s, F.array_join(F.split("word", ""), BPE_SEP * 2), s
            ).alias("repr"),
        )
        .persist()
    )
    _merges, encoded = _bpe_merge_steps(state, n_merges)
    n_syms = F.size(F.filter(F.split("repr", BPE_SEP), lambda x: x != ""))
    vocab = encoded.select("word", n_syms.alias("n_syms"))
    return (
        doc_words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.length("word")).alias("n_chars"),
            F.sum(F.col("cnt") * F.col("n_syms")).alias("n_bpe_tokens"),
        )
    )


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization — every crawl pipeline's first dedup key
    (r13, VERDICT r12 #3b): normalize the variants that make one page
    look like many before exact dedup. Steps, in order:

    1. scheme and authority lowercased (path case is preserved — it is
       significant per RFC 3986)
    2. leading ``www.`` stripped from the host
    3. default port stripped (``:80`` for http, ``:443`` for https)
    4. fragment dropped (``#...`` never reaches the server)
    5. ``utm_*`` tracking query parameters dropped FROM THE QUERY PART
       ONLY, separators tidied (a query left empty — including a raw
       trailing lone ``?`` — disappears entirely)
    6. duplicate ``/`` runs in the path collapsed
    7. trailing ``/`` stripped from non-root paths; an empty path
       becomes ``/``

    The path/query split happens BEFORE utm removal (ADVICE r13 #1): a
    path may legally contain ``=`` and ``&`` (``/p/utm_x=1&y``) and
    must never be rewritten. Within the query, every utm match is
    anchored to a real parameter boundary (``&`` or the leading ``?``)
    so a non-tracking param that merely CONTAINS the substring
    (``?a_utm_x=1``) survives — the unanchored r13 form collapsed
    distinct URLs, silently dropping documents downstream. Three fixed
    passes cover arbitrary chains: (i) every ``&utm_*=v`` (all
    non-first params — consecutive matches abut, so one global pass
    drains them), (ii) a leading ``?utm_*=v&`` hands its ``?`` to the
    successor — ^-ANCHORED (r14 review): a parameter VALUE may contain
    a literal ``?`` (``?a=b?utm_x=1&c=2``), and an unanchored pass (ii)
    would strip from inside it, the same mid-token failure class as the
    original bug; the anchor also makes at-most-one-match true, which
    keeps Spark's always-global replace and DuckDB's default
    first-match replace equivalent — (iii) a lone ``?utm_*=v``
    disappears. The param-name class is
    ``utm_[A-Za-z0-9_]+`` — real trackers carry digits and second
    underscores (utm_source_platform, utm_id_2; ADVICE r13 #3).

    Pure built-ins (lower/regexp_extract/regexp_replace/concat): one
    whole-stage-codegen'd per-row map, no shuffle, no UDF — at 100 TB
    this canonicalizer rides the scan. Every regex sticks to the
    Java-regex ∩ RE2 common subset and every replacement is a literal
    (no group references — their syntax differs between engines), so
    the DuckDB oracle replays the identical steps (with the ``'g'``
    flag: Spark's regexp_replace is always global, DuckDB's is not).
    """
    head = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
    scheme = F.lower(F.regexp_extract(url, head + r".*$", 1))
    auth = F.lower(F.regexp_extract(url, head + r"([^/?#]*).*$", 2))
    rest = F.regexp_extract(url, head + r"[^/?#]*(.*)$", 2)
    auth = F.regexp_replace(auth, r"^www\.", "")
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    rest = F.regexp_replace(rest, r"#.*$", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"(\?.*)$", 1)
    query = F.regexp_replace(query, r"&utm_[A-Za-z0-9_]+=[^&#]*", "")
    query = F.regexp_replace(query, r"^\?utm_[A-Za-z0-9_]+=[^&#]*&", "?")
    query = F.regexp_replace(query, r"^\?utm_[A-Za-z0-9_]+=[^&#]*$", "")
    query = F.regexp_replace(query, r"^\?$", "")
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "/", path).otherwise(F.regexp_replace(path, r"/+$", ""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(scheme, F.lit("://"), auth, path, query)
