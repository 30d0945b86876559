"""Property-based invariants (SURVEY.md §5.5), via hypothesis.

Each property generates adversarial inputs driver-side, builds ONE small
DataFrame per example, and checks an invariant that must hold for any
input — the complement of the fixed-fixture oracle tests. Example counts
are kept small: every example is a Spark job.
"""

from __future__ import annotations

from datetime import datetime, timezone

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

WINDOW_S = 30
SLIDE_S = 10


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=50, unique=True
    )
)
def test_sliding_window_membership(spark, epochs):
    """Every event belongs to exactly duration/slide aligned sliding
    windows (reference T1 semantics, spark_job1.py:27-30): 30s/10s => 3
    windows per event, for ANY timestamp."""
    rows = [
        (datetime.fromtimestamp(e, tz=timezone.utc).replace(tzinfo=None),)
        for e in epochs
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    counts = (
        df.select("ts", F.window("ts", f"{WINDOW_S} seconds", f"{SLIDE_S} seconds"))
        .groupBy("ts")
        .count()
        .collect()
    )
    assert len(counts) == len(epochs)
    assert all(r["count"] == WINDOW_S // SLIDE_S for r in counts)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=12
    ),
    st.randoms(use_true_random=False),
)
def test_fingerprint_order_invariance(spark, tokens, rng):
    """The bag-of-words md5 fingerprint is invariant under token
    reordering; token/distinct counts likewise. (The rolling hash is the
    deliberate order-SENSITIVE counterpart — not asserted here because
    mod-2^31 collisions, while cosmologically rare, are possible.)"""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        fingerprint,
        token_stats,
    )

    shuffled = tokens[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame(
        [(0, " ".join(tokens)), (1, " ".join(shuffled))], "doc_id long, text string"
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fps[0] == fps[1]
    stats = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct_tokens"])
        for r in token_stats(df).collect()
    }
    assert stats[0] == stats[1]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.decimals(
            min_value="-99999.99", max_value="99999.99", places=2, allow_nan=False
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=8),
)
def test_decimal_sum_partition_invariance(spark, amounts, n_parts):
    """The engine's exact-decimal sum policy (queries.relational._dsum) is
    independent of physical partitioning — the double it returns is
    identical whatever order/parallelism the partial aggregation ran in.
    (Plain double sum() does NOT have this property; that's why the
    oracle-matched aggregates cast to DECIMAL first.)"""
    df = spark.createDataFrame([(float(a),) for a in amounts], "x double")
    sums = {
        df.repartition(p).agg(
            F.sum(F.col("x").cast("decimal(12,2)")).cast("double").alias("s")
        ).collect()[0]["s"]
        for p in (1, n_parts)
    }
    assert len(sums) == 1


@settings(max_examples=10, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(
            st.sampled_from("ab"),
            st.integers(0, 50),
            st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_asof_join_matches_bruteforce_model(spark, left, right):
    """asof_join == the brute-force model on random keyed series: for each
    left row, the right row with max ts <= left.ts for that key, ALL of
    whose value columns come from that single row (NULLs included)."""
    from datetime import datetime

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.joins import (
        asof_join,
    )

    ts = lambda s: datetime(2024, 1, 1, 0, 0, 0, 0).replace(minute=s // 60, second=s % 60)  # noqa: E731
    ldf = spark.createDataFrame([(k, ts(t), float(i)) for i, (k, t) in enumerate(left)], ["k", "ts", "lv"])
    rdf = spark.createDataFrame(
        [(k, ts(t), v, float(t)) for k, t, v in right], "k string, ts timestamp, rv double, rw double"
    )
    got = {
        (r.k, r.ts, r.lv): (r.rv_right, r.rw_right, r.ts_right)
        for r in asof_join(ldf, rdf, key_cols=["k"]).collect()
    }
    assert len(got) == len(left)
    for i, (k, t) in enumerate(left):
        cands = [(rk, rt, v) for rk, rt, v in right if rk == k and rt <= t]
        if not cands:
            expected = (None, None, None)
        else:
            rk, rt, v = max(cands, key=lambda c: c[1])
            expected = (v, float(rt), ts(rt))
        assert got[(k, ts(t), float(i))] == expected, (k, t, got[(k, ts(t), float(i))], expected)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=14,
    )
)
def test_jaccard_prefix_filter_is_lossless(spark, docs):
    """PPJoin prefix filtering must be LOSSLESS: jaccard_pairs equals the
    naive all-pairs Jaccard computed in Python, on random small-vocab
    corpora engineered to stress prefix boundaries (hot shingles, ties)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        jaccard_pairs,
        word_shingles,
    )

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        (r.a_id, r.b_id): (r.common, round(r.jaccard, 12))
        for r in jaccard_pairs(word_shingles(df), threshold=0.6).collect()
    }

    def shingles(text):
        toks = text.lower().strip().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expected = {}
    sets = {i: shingles(t) for i, t in enumerate(docs)}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                common = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and common / union >= 0.6:
                    expected[(a, b)] = (common, round(common / union, 12))
    assert got == expected, (got, expected)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcde"), min_size=0, max_size=8
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=10,
    )
)
def test_duplicated_span_stats_matches_python_reference(spark, texts):
    """duplicated_span_stats (k=3) equals a brute-force Python model on
    arbitrary tiny corpora: per-position k-gram spans, a span is
    duplicated iff its text occurs in >= 2 distinct docs; docs shorter
    than k have zero spans."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        duplicated_span_stats,
    )

    k = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, round(r.dup_span_fraction, 12))
        for r in duplicated_span_stats(df, k=k).collect()
    }
    spark.catalog.clearCache()

    def toks(t):
        t = t.strip().lower()
        return t.split() if t else [""]

    spans = {
        i: [" ".join(toks(t)[p : p + k]) for p in range(len(toks(t)) - k + 1)]
        for i, t in docs
    }
    carriers = {}
    for i, ss in spans.items():
        for s in set(ss):
            carriers.setdefault(s, set()).add(i)
    expected = {}
    for i, ss in spans.items():
        n_dup = sum(1 for s in ss if len(carriers[s]) >= 2)
        frac = round(n_dup / len(ss), 12) if ss else 0.0
        expected[i] = (len(ss), n_dup, frac)
    assert got == expected, (got, expected)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 5000)), min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 5000)), min_size=1, max_size=40),
)
def test_interval_join_bucketing_matches_naive_theta(spark, lefts, rights):
    """interval_event_join's bucket optimization must be LOSSLESS for any
    key/timestamp layout: identical pair set to the naive key-join +
    range-filter, including window-boundary and bucket-boundary
    timestamps."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.joins import (
        interval_event_join,
    )

    left = spark.createDataFrame(
        [(k, i, datetime.fromtimestamp(1704067200 + s, tz=timezone.utc).replace(tzinfo=None))
         for i, (k, s) in enumerate(lefts)],
        "k long, lid long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(k, i, datetime.fromtimestamp(1704067200 + s, tz=timezone.utc).replace(tzinfo=None))
         for i, (k, s) in enumerate(rights)],
        "k long, rid long, rts timestamp",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_event_join(left, right, ["k"], "lts", "rts", 600).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.join(right, "k")
        .filter(
            (F.col("rts") > F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 600 SECOND"))
        )
        .collect()
    )
    assert got == naive


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_containment_prefix_filter_is_lossless(spark, token_lists):
    """containment_pairs' asymmetric prefix filter must be LOSSLESS: same
    directed pair set as the naive all-pairs set intersection for any
    corpus."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    sh = word_shingles(docs)
    got = sorted(
        (r.a_id, r.b_id) for r in containment_pairs(sh, threshold=0.6).collect()
    )
    # Driver-side naive model over the same shingle sets.
    sets: dict[int, set] = {}
    for r in sh.collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    want = sorted(
        (a, b)
        for a in sets
        for b in sets
        if a != b and len(sets[a] & sets[b]) / len(sets[a]) >= 0.6
    )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(1, 60), min_size=1, max_size=80))
def test_key_skew_histogram_percentiles_property(spark, keys):
    """Histogram-derived percentiles == Spark's sort-based F.percentile
    for ANY key multiset (interpolation corners included)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.profiling import (
        key_skew_stats,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = key_skew_stats(df, "k").collect()[0]
    want = (
        df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.percentile("c", 0.5).alias("p50"),
            F.percentile("c", 0.9).alias("p90"),
            F.percentile("c", 0.99).alias("p99"),
        )
        .collect()[0]
    )
    assert got.p50_rows_per_key == want.p50
    assert got.p90_rows_per_key == want.p90
    assert got.p99_rows_per_key == want.p99
    assert got.n_rows == len(keys)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=99999), min_size=1, max_size=30
    )
)
def test_ewma_fold_matches_python_model(spark, cents):
    """The Catalyst ordered-fold EWMA must equal the plain Python
    recurrence bit-for-bit for any value sequence (same init-at-first,
    same op order)."""
    vals = [c / 100.0 for c in cents]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, value double"
    )
    arr = F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("value"))))
    got = (
        df.groupBy(F.lit(1).alias("g"))
        .agg(arr.alias("h"))
        .select(
            F.aggregate(
                F.expr("slice(transform(h, x -> x.value), 2, size(h) - 1)"),
                F.element_at(F.expr("transform(h, x -> x.value)"), 1),
                lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
            ).alias("ewma")
        )
        .collect()[0]
        .ewma
    )
    want = vals[0]
    for v in vals[1:]:
        want = 0.2 * v + 0.8 * want
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=120,
    )
)
def test_triangle_count_matches_bruteforce_model(spark, edges):
    """The degree-ordered adjacency-intersection triangle count must
    equal the O(n^3) set-model count on arbitrary small graphs (the
    orientation + per-edge intersect must neither double-count nor miss
    triangles, whatever the degree ties)."""
    import itertools

    und = {tuple(sorted(e)) for e in edges}
    nodes = sorted({x for e in und for x in e})
    adj = {n: set() for n in nodes}
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )

    # The SHIPPED pipeline, from a raw edge DataFrame (the query itself
    # derives edges from lineitem; the algorithm under test starts at
    # the undirected distinct pair list).
    if not und:
        return
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        triangle_closure_counts,
    )

    pairs = spark.createDataFrame(sorted(und), "u long, v long")
    _, per_edge = triangle_closure_counts(pairs)
    got = (
        per_edge.agg(F.coalesce(F.sum("n_closed"), F.lit(0))).collect()[0][0]
    )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    intervals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60), st.integers(1, 20)),
        min_size=1,
        max_size=40,
    )
)
def test_merge_intervals_islands_match_python_model(spark, intervals):
    """The gaps-and-islands interval union must produce exactly the
    maximal merged spans of a naive per-key sweep (touching intervals
    merge iff start <= running max end; strictly-after starts open a new
    island)."""
    from datetime import date, timedelta

    d0 = date(2024, 1, 1)
    rows = [
        (k, i, d0 + timedelta(days=s), d0 + timedelta(days=s + ln))
        for i, (k, s, ln) in enumerate(intervals)
    ]
    # Python model
    want = set()
    bykey = {}
    for k, i, s, e in rows:
        bykey.setdefault(k, []).append((s, e, i))
    for k, ivs in bykey.items():
        ivs.sort()
        cur_s, cur_e, n = None, None, 0
        island = 0
        for s, e, _ in ivs:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    want.add((k, island, cur_s, cur_e, n))
                island += 1
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        want.add((k, island, cur_s, cur_e, n))

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        interval_islands,
    )

    df = spark.createDataFrame(rows, "k long, i long, start date, end date")
    got = {
        (r.k, r.island, r.valid_from, r.valid_to, r.n)
        for r in interval_islands(df, "k", "start", "end", "i")
        .groupBy("k", "island")
        .agg(
            F.min("start").alias("valid_from"),
            F.max("end").alias("valid_to"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, allow_infinity=False, width=32),
            min_size=64,
            max_size=64,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_kmeans_assignment_matches_numpy_argmin(spark, vecs):
    """The Catalyst fold-based k-means assignment (sim_kmeans_iter's
    core) must agree with numpy's argmin of squared L2 distances against
    the same seeded centroids for arbitrary float32-representable
    vectors (ties break to the lowest cluster in both)."""
    import numpy as np

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.similarity import (
        _kmeans_centroids,
        _kmeans_dists_col,
    )

    cents = np.array(_kmeans_centroids())
    m = np.array(vecs, dtype=np.float64)
    d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = d.argmin(axis=1).tolist()

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, v array<double>"
    )
    got = {
        r.vec_id: r.c
        for r in df.select(
            "vec_id",
            (
                F.array_position(
                    _kmeans_dists_col(F.col("v")),
                    F.array_min(_kmeans_dists_col(F.col("v"))),
                )
                - 1
            ).alias("c"),
        ).collect()
    }
    assert [got[i] for i in range(len(vecs))] == want


@settings(max_examples=5, deadline=None)
@given(
    parts=st.lists(
        st.tuples(st.integers(1, 12), st.integers(100, 999)),  # (size, price)
        min_size=1,
        max_size=40,
    )
)
def test_skyline_matches_bruteforce_dominance(spark, parts):
    """rel_skyline's small-domain window formulation must equal the
    naive all-pairs dominance filter on arbitrary (size, price) sets:
    keep (s, p) iff no other row has size >= s AND price <= p with one
    strict. Exercises the SHIPPED skyline_frontier core, not an inline
    re-derivation, so a regression in the query body is caught."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        skyline_frontier,
    )

    rows = [(i, s, float(p)) for i, (s, p) in enumerate(parts)]
    df = spark.createDataFrame(rows, "p_partkey long, p_size int, p_retailprice double")

    got = {
        r.p_partkey
        for r in skyline_frontier(df, "p_size", "p_retailprice").collect()
    }

    want = set()
    for i, s, p in rows:
        dominated = any(
            (s2 >= s and p2 <= p and (s2 > s or p2 < p)) for j, s2, p2 in rows if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want


@settings(max_examples=3, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_pq_refine_unbounded_equals_candidate_exact_rank(spark, seed):
    """With refine covering EVERY candidate, IVF-PQ's output must equal
    exact cosine ranking over the IVF candidate set — i.e. the ADC
    shortlist stage loses nothing it was allowed to keep. (Run on a
    seeded 60-vector corpus; checks the shortlist/refine plumbing, not
    recall.)"""
    import random

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
        similarity as s,
    )

    rng = random.Random(seed)
    dim = 64
    vecs = [
        (i, [round(rng.gauss(0.0, 1.0), 3) for _ in range(dim)]) for i in range(60)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    tight = s.ann_ivfpq_topk(corpus, queries, k=3, refine=1000)
    # refine=1000 >> candidates => rerank sees every candidate => equals
    # IVF with the same cells/probes (exact rerank over candidates).
    ivf = s.ann_ivf_topk(corpus, queries, k=3)
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in tight.collect())
    want = sorted((r.query_id, r.neighbor_id, r.rank) for r in ivf.collect())
    assert got == want


@settings(max_examples=5, deadline=None)
@given(n_parts=st.integers(1, 13))
def test_heavy_hitters_partitioning_invariant_when_uncapped(spark, n_parts):
    """monitor_heavy_hitters' docstring claim, pinned: in the
    no-eviction regime (capacity >= per-partition distinct keys) the
    merged (key, est, lo) triples are EXACT counts — identical under any
    physical partitioning, which is what makes the query driver-hash-
    checkable. Only `hi` may vary with partitioning, and it is excluded
    from the query's output."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.heavy_hitters import (
        merge_summaries,
        space_saving_partial,
    )

    df = spark.range(500).select(
        (F.col("id") % 37).cast("string").alias("k")
    ).repartition(n_parts)
    merged = merge_summaries(space_saving_partial(df, "k", capacity=64))
    got = sorted((r.key, r.est, r.lo) for r in merged.collect())
    want = sorted(
        (r.k, r.n, r.n)
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    present=st.lists(st.sampled_from(["a", "b", "c", "d"]), unique=True, min_size=1),
    extras=st.lists(st.sampled_from(["x", "y"]), unique=True),
)
def test_conform_to_schema_always_matches_target(spark, present, extras):
    """conform_to_schema invariants for any producer frame: output
    columns exactly equal the target schema (names, order, types);
    missing target columns are NULL; extra producer columns never leak."""
    from pyspark.sql.types import LongType, StructField, StructType

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        conform_to_schema,
    )

    target = StructType([StructField(c, LongType()) for c in ["a", "b", "c", "d"]])
    cols = present + extras
    df = spark.range(3).select(
        *[(F.col("id") + i).alias(c) for i, c in enumerate(cols)]
    )
    out = conform_to_schema(df, target)
    assert out.columns == ["a", "b", "c", "d"]
    assert all(t == "bigint" for _, t in out.dtypes)
    row = out.collect()[0]
    for c in ["a", "b", "c", "d"]:
        if c in present:
            assert row[c] is not None
        else:
            assert row[c] is None


@settings(max_examples=5, deadline=None)
@given(n_null=st.integers(1, 200), n_parts=st.integers(1, 7))
def test_heavy_hitters_tracks_null_keys(spark, n_null, n_parts):
    """A NULL key is a real heavy hitter (a missing dimension value):
    SpaceSaving must track and count it like any other key — in the
    uncapped regime its merged estimate is its exact count."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.heavy_hitters import (
        merge_summaries,
        space_saving_partial,
    )

    df = spark.range(300 + n_null).select(
        F.when(F.col("id") < n_null, F.lit(None)).otherwise(
            (F.col("id") % 11).cast("string")
        ).alias("k")
    ).repartition(n_parts)
    merged = {r.key: (r.est, r.lo) for r in merge_summaries(
        space_saving_partial(df, "k", capacity=64)
    ).collect()}
    assert merged[None] == (n_null, n_null), merged.get(None)


@settings(max_examples=5, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-500, 500)),  # (group, value*0.01)
        min_size=3,
        max_size=60,
    )
)
def test_mad_outliers_match_bruteforce(spark, vals):
    """The shipped mad_outlier_report core must equal a pure-python
    re-derivation (interpolated medians, 6-dec floor lattice, strict
    3-MAD boundary) on arbitrary grouped doubles."""
    import math

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        mad_outlier_report,
    )

    rows = [(f"g{g}", v * 0.01) for g, v in vals]
    df = spark.createDataFrame(rows, "k string, value double")
    got = {
        r.k: (r.med, r.mad, r.n_events, r.n_outliers)
        for r in mad_outlier_report(df, "k", "value").collect()
    }

    def interp_median(xs):
        xs = sorted(xs)
        n = len(xs)
        pos = (n - 1) * 0.5
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)

    def lattice6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    want = {}
    for k in {r[0] for r in rows}:
        xs = [v for g, v in rows if g == k]
        med = lattice6(interp_median(xs))
        devs = [abs(x - med) for x in xs]
        mad = lattice6(interp_median(devs))
        n_out = sum(1 for d in devs if d > 3.0 * mad)
        want[k] = (med, mad, len(xs), n_out)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=8),
        min_size=1,
        max_size=20,
    )
)
def test_hapax_ratio_matches_counter(spark, docs):
    """text_hapax_ratio's explode/broadcast formulation must equal a
    Counter re-derivation: n_hapax = instances of corpus-count-1 terms."""
    from collections import Counter

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        text as textq,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # Drive the shipped query body through a temp parquet dir so it runs
    # the exact registry code path (load_table reads <dir>/documents).
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {
            r.doc_id: (r.n_tokens, r.n_hapax)
            for r in textq.text_hapax_ratio(spark, d).collect()
        }

    corpus = Counter(t for toks in docs for t in toks)
    want = {
        i: (len(toks), sum(1 for t in toks if corpus[t] == 1))
        for i, toks in enumerate(docs)
    }
    assert got == want


def test_embedding_drift_identical_halves_is_zero(spark, tmp_path):
    """sim_embedding_drift sanity anchor: when both md5-bucket halves
    hold the SAME vector (constant corpus), the mean vectors coincide —
    cosine 1, L2 0, max per-dim drift 0."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        similarity as simq,
    )

    vec = [round(0.1 + 0.01 * i, 3) for i in range(64)]
    df = spark.createDataFrame(
        [(i, vec) for i in range(40)], "vec_id long, embedding array<float>"
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    row = simq.sim_embedding_drift(spark, str(tmp_path)).collect()[0]
    assert row.n_ref + row.n_cur == 40 and row.n_ref > 0 and row.n_cur > 0
    assert row.mean_cosine == 1.0
    assert row.mean_l2 == 0.0
    assert row.max_dim_drift == 0.0


@settings(max_examples=5, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40000)),  # (user, value*0.01)
        min_size=1,
        max_size=50,
    )
)
def test_cusum_shift_matches_bruteforce_fold(spark, vals):
    """monitor_cusum_shift == a pure-python replay of the two-sided fold
    (exact-decimal mean, zero-seeded max(0, acc + drift) in event order)
    on arbitrary grouped values — including the mu and boundary flags."""
    import tempfile
    from datetime import datetime, timedelta
    from decimal import Decimal

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.monitoring import (
        monitor_cusum_shift,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, u, base + timedelta(seconds=i), v * 0.01, "{}")
        for i, (u, v) in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r.user_id: (r.n_events, r.mu, r.cusum_hi, r.cusum_lo, r.shifted)
            for r in monitor_cusum_shift(spark, d).collect()
        }

    want = {}
    for u in {r[1] for r in rows}:
        hist = [(ts, eid, v) for eid, uu, ts, v, _ in rows if uu == u]
        hist.sort()
        # Exact-decimal mean, then the same double fold as the query.
        mu = float(sum(Decimal(f"{v:.6f}") for _, _, v in hist)) / len(hist)
        s_hi = s_lo = 0.0
        for _, _, v in hist:
            s_hi = max(0.0, s_hi + (v - mu - 25.0))
            s_lo = max(0.0, s_lo + (mu - 25.0 - v))
        want[u] = (len(hist), mu, s_hi, s_lo, s_hi > 200.0 or s_lo > 200.0)
    assert got == want


def test_mttr_counts_only_recovered_incidents(spark, tmp_path):
    """monitor_mttr: a HIGH run still open at a user's last observed
    window is right-censored and must NOT enter the mean — including a
    user whose ONLY incident is censored (no output row at all). Built
    on a hand-crafted events table where the incident durations are
    known exactly."""
    from datetime import datetime, timedelta

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.monitoring import (
        monitor_mttr,
    )

    base = datetime(2024, 1, 1)

    def ev(eid, user, win_idx, value):
        return (eid, base + timedelta(seconds=30 * win_idx), user, "m", value, "{}")

    rows = [
        # user 1: HIGH@0-1 (2 windows), OK@2, HIGH@3 (1 window), OK@4
        #   -> two recovered incidents: 60s + 30s, mttr 45.0
        ev(0, 1, 0, 200.0), ev(1, 1, 1, 200.0), ev(2, 1, 2, 1.0),
        ev(3, 1, 3, 200.0), ev(4, 1, 4, 1.0),
        # user 2: OK@0, HIGH@1-2 trailing (censored) -> NO output row
        ev(5, 2, 0, 1.0), ev(6, 2, 1, 200.0), ev(7, 2, 2, 200.0),
        # user 3: HIGH@0 recovered, HIGH@2-3 censored -> one incident 30s
        ev(8, 3, 0, 200.0), ev(9, 3, 1, 1.0),
        ev(10, 3, 2, 200.0), ev(11, 3, 3, 200.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r.user_id: (r.n_incidents, r.total_high_seconds, r.mttr_seconds)
        for r in monitor_mttr(spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 90, 45.0), 3: (1, 30, 30.0)}


def test_ngram_novelty_first_doc_convention(spark, tmp_path):
    """text_ngram_novelty: the doc holding a shingle's min doc_id gets
    novelty credit; later holders don't. Exact counts on a corpus with
    fully known shingle overlap (and a <3-token doc yielding no row)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.text import (
        text_ngram_novelty,
    )

    rows = [
        (0, "a b c d", "en", "s", 7),        # shingles: 'a b c', 'b c d'
        (1, "a b c e", "en", "s", 7),        # 'a b c' seen; 'b c e' novel
        (2, "a b c d", "en", "s", 7),        # both seen -> novelty 0
        (3, "x y", "en", "s", 3),            # <3 tokens -> no shingles, no row
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
        for r in text_ngram_novelty(spark, str(tmp_path)).collect()
    }
    assert got == {0: (2, 2, 1.0), 1: (2, 1, 0.5), 2: (2, 0, 0.0)}


@settings(max_examples=8, deadline=None)
@given(
    a_rows=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 3), st.sampled_from(["p", "q", None])),
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    b_rows=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 3), st.sampled_from(["p", "q", None])),
        max_size=15,
        unique_by=lambda t: t[0],
    ),
)
def test_snapshot_diff_matches_dict_model(spark, a_rows, b_rows):
    """snapshot_diff == a python dict-diff model on arbitrary keyed
    snapshots, including NULL compare values on either side (null-safe
    equality) and keys present in only one side."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.changelog import (
        snapshot_diff,
    )

    schema = "k long, n int, s string"
    a = spark.createDataFrame(a_rows, schema) if a_rows else spark.createDataFrame([], schema)
    b = spark.createDataFrame(b_rows, schema) if b_rows else spark.createDataFrame([], schema)
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(a, b, ["k"], ["n", "s"]).collect()
    }
    am = {k: (n, s) for k, n, s in a_rows}
    bm = {k: (n, s) for k, n, s in b_rows}
    expect = {}
    for k in set(am) | set(bm):
        if k not in am:
            expect[k] = "added"
        elif k not in bm:
            expect[k] = "removed"
        elif am[k] == bm[k]:
            expect[k] = "unchanged"
        else:
            expect[k] = "changed"
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "the", "word"]), min_size=1, max_size=30),
        min_size=1,
        max_size=10,
    )
)
def test_gopher_dominance_fold_matches_counter(spark, docs):
    """The stateless top-word count (max run length over the sorted
    token array, struct-accumulator fold) == collections.Counter's
    most_common on arbitrary token bags — the equivalence that let the
    explode+groupBy shuffle be dropped from gopher_rules. Checked
    through the dominance gate at three thresholds against the exact
    integer inequality 100*top <= pct*n."""
    from collections import Counter

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        gopher_rules,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tops = {i: Counter(toks).most_common(1)[0][1] for i, toks in enumerate(docs)}
    ns = {i: len(toks) for i, toks in enumerate(docs)}
    for pct in (5, 15, 50):
        got = {
            r["doc_id"]: r["rule_top_word"]
            for r in gopher_rules(df, max_top_word_pct=pct).collect()
        }
        for i in ns:
            assert got[i] == (100 * tops[i] <= pct * ns[i]), (i, pct, docs[i])


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 10_000), st.integers(-500, 500)),
        min_size=1,
        max_size=60,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_lateral_topk_matches_window_formulation(spark, rows):
    """Cross-implementation pin for the LATERAL operator class: a
    correlated LATERAL (ORDER BY .. LIMIT k) over arbitrary grouped data
    must return exactly the rank<=k window formulation — Catalyst's
    decorrelation may never change which rows a group's top-k contains
    (ties broken by id in both)."""
    df = spark.createDataFrame(rows, "g int, id int, v int")
    df.createOrReplaceTempView("lat_prop_vals")
    groups = spark.createDataFrame([(g,) for g in range(5)], "g int")
    groups.createOrReplaceTempView("lat_prop_groups")
    lateral = spark.sql(
        """
        SELECT o.g, x.id, x.v FROM lat_prop_groups o,
        LATERAL (
          SELECT id, v FROM lat_prop_vals t
          WHERE t.g = o.g ORDER BY v DESC, id LIMIT 3
        ) AS x
        """
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.col("v").desc(), "id")
    windowed = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("g", "id", "v")
    )
    assert sorted(map(tuple, lateral.collect())) == sorted(
        map(tuple, windowed.collect())
    )


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=12
    )
)
def test_bpe_encode_counts_invariants(spark, texts):
    """Structural invariants of the BPE encoder on adversarial tiny
    corpora: every doc with at least one [a-z]+ word appears exactly
    once; n_words <= n_bpe_tokens <= n_chars (merges only shorten the
    symbol stream, never below one token per word); and with 0 merges
    n_bpe_tokens == n_chars exactly (character tokenization)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.text import (
        bpe_encode_counts,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    def word_docs():
        import re
        out = {}
        for i, t in enumerate(texts):
            ws = [w for w in re.split(r"\s+", t.lower().strip()) if re.fullmatch("[a-z]+", w)]
            if ws:
                out[i] = ws
        return out

    want = word_docs()
    got = {r.doc_id: r for r in bpe_encode_counts(docs, n_merges=3).collect()}
    assert set(got) == set(want)
    for i, ws in want.items():
        r = got[i]
        assert r.n_words == len(ws)
        assert r.n_chars == sum(len(w) for w in ws)
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars

    got0 = {r.doc_id: r for r in bpe_encode_counts(docs, n_merges=0).collect()}
    for i in want:
        assert got0[i].n_bpe_tokens == got0[i].n_chars


@settings(max_examples=20, deadline=None)
@given(i=st.integers(0, 2**40), n_servers=st.integers(1, 1000))
def test_metrics_row_bounds_and_determinism(i, n_servers):
    """The Python-source generator is a pure function of (i, n_servers)
    with fields in their documented domains — the contract the DuckDB
    range() oracle and the streaming replay both depend on."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.pysource import (
        metrics_row,
    )

    a = metrics_row(i, n_servers)
    assert a == metrics_row(i, n_servers)
    event_id, server_id, ts_offset, cpu, mem = a
    assert event_id == i
    assert 0 <= server_id < n_servers and server_id == i % n_servers
    assert ts_offset == i // n_servers
    assert 0.0 <= cpu <= 99.99 and 0.0 <= mem <= 99.99
    assert round(cpu * 100) == cpu * 100 or abs(round(cpu * 100) - cpu * 100) < 1e-9


@settings(max_examples=50, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=200),
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=200),
)
def test_bloom_bit_math_no_false_negatives(dim_keys, probe_keys):
    """Third-engine pin for the Bloom word/bit construction (the pure-
    Python replay of the md5 arithmetic BOTH engines implement in
    rel_bloom_semi_join): for ANY key sets, every dim key passes its own
    filter — a false negative is a construction bug (wrong word index,
    mask off-by-one, bit-63 wraparound), the class of error the one-row
    effectiveness report cannot distinguish from normal misses. Also
    pins the claimed bit-63 avoidance: no mask ever sets the sign bit.
    No Spark involved — this is the fast adversarial complement to the
    sf0.01/sf0.1 oracle hash checks."""
    import hashlib

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries.relational import (
        _BLOOM_BITS_PER_WORD,
        _BLOOM_M,
        _BLOOM_WORDS,
    )

    def bits(key: int) -> tuple[int, int]:
        h = hashlib.md5(f"{key}#bloom".encode()).hexdigest()
        h1, h2 = int(h[0:8], 16), int(h[8:16], 16)
        return h1 % _BLOOM_M, (h1 + h2) % _BLOOM_M

    words = [0] * _BLOOM_WORDS
    for k in dim_keys:
        for b in bits(k):
            mask = 1 << (b % _BLOOM_BITS_PER_WORD)
            assert mask < 2**63, "bit 63 must never be set (DuckDB checked shift)"
            words[b // _BLOOM_BITS_PER_WORD] |= mask

    def member(k: int) -> bool:
        return all(
            words[b // _BLOOM_BITS_PER_WORD] & (1 << (b % _BLOOM_BITS_PER_WORD))
            for b in bits(k)
        )

    for k in dim_keys:
        assert member(k), f"false negative for dim key {k}"
    # false positives are allowed but must be a filter property, not a
    # universal pass: an empty filter admits nothing
    if not dim_keys & probe_keys:
        empty = [0] * _BLOOM_WORDS
        assert not any(
            all(
                empty[b // _BLOOM_BITS_PER_WORD] & (1 << (b % _BLOOM_BITS_PER_WORD))
                for b in bits(k)
            )
            for k in probe_keys
        )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 32) - 1),
            st.integers(min_value=0, max_value=(1 << 32) - 1),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_signature_collision_rate_matches_python_model(spark, sigs):
    """estimate_signature_collision_rate's numpy XOR + byte-LUT popcount
    must equal the obvious Python int.bit_count model for ANY signature
    multiset (sample >= corpus, so the md5 draw is the whole input) — the
    driver-side math behind the saturation guardrail, pinned against an
    independent implementation. Also: rate 1.0 iff all pairs collide
    (max_hamming=64 degenerate), 0 <= rate <= 1 always."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.dedup import (
        estimate_signature_collision_rate,
    )

    rows = [(i, lo, hi) for i, (lo, hi) in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id: long, sig_lo: long, sig_hi: long")
    for t in (0, 6):
        got = estimate_signature_collision_rate(df, max_hamming=t, sample=1000)
        n = len(sigs)
        want_pairs = sum(
            1
            for i in range(n)
            for j in range(i + 1, n)
            if ((sigs[i][0] ^ sigs[j][0]).bit_count()
                + (sigs[i][1] ^ sigs[j][1]).bit_count()) <= t
        )
        assert got == want_pairs / (n * (n - 1) / 2), (t, got, want_pairs)
        assert 0.0 <= got <= 1.0
    assert estimate_signature_collision_rate(df, max_hamming=64, sample=1000) == 1.0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1", "g2", None]),
            st.sampled_from(["s0", "s1", None]),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_kmv_rollup_matches_pure_python_replay(spark, rows, k):
    """For ANY multiset of (group, subgroup, key) rows and ANY k, every
    level of the mergeable-KMV rollup must agree with an independent
    pure-Python md5 replay of the DIRECT (non-merged) sketch — the merge
    property says building parents from child sketches loses nothing —
    and every exact companion must equal the true distinct count.
    Duplicates, single-row groups, all-sub-k and all-estimating regimes
    are all generated, INCLUDING NULL segment values in either position
    (ADVICE r13 #2: (NULL,'x') and ('x',NULL) must stay distinct groups
    in the est⋈exact combine, not collide via concat_ws's NULL-skip)."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.caching import (
        cache_scope,
    )
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators.sketches import (
        kmv_rollup,
    )

    data = [(g, s, f"key{i}") for g, s, i in rows]
    df = spark.createDataFrame(data, "g string, s string, key string")
    # The caching contract: hypothesis re-invokes this in one session —
    # release each invocation's persisted frames.
    with cache_scope(spark):
        out = kmv_rollup(df, key_col="key", seg_cols=["g", "s"], k=k)
        got = {(r.level, r.g, r.s): r for r in out.collect()}

    from .test_joins import md5_h60

    def expect(keys: set[str]) -> tuple[float, int]:
        hs = sorted(md5_h60(x) for x in keys)
        if len(hs) < k:
            return float(len(hs)), len(hs)
        return float((k - 1) * (1 << 60)) / float(hs[k - 1]), len(hs)

    levels: dict[tuple, set] = {}
    for g, s, key in data:
        levels.setdefault(("g,s", g, s), set()).add(key)
        levels.setdefault(("g", g, None), set()).add(key)
        levels.setdefault(("total", None, None), set()).add(key)
    assert set(got) == set(levels)
    for lvl, keys in levels.items():
        est, exact = expect(keys)
        assert got[lvl].exact_distinct == exact, lvl
        assert got[lvl].est_distinct == est, lvl
