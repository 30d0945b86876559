"""KMV (k-minimum-values / theta) distinct-count sketches with SET
ALGEBRA — union AND intersection estimates from two bounded sketches
[Beyer et al., SIGMOD 2007; the DataSketches theta-sketch model].

This is the capability the HLL leg (rel_hll_daily_users) deliberately
lacks: HLL sketches union cleanly but cannot intersect; theta/KMV
sketches support the full set algebra, which is what audience-overlap /
cross-segment distinct questions need ("how many user-minutes saw BOTH
a click and a view").

Unlike the engine-specific DataSketches binaries, this KMV is built
from md5 — fully deterministic and replayable in the SQL oracle — so
the ESTIMATES themselves are on the hash surface (no accuracy-report
indirection needed): both engines keep the k smallest 60-bit hashes per
set, read the same k-th minimum, and divide the same exact integers.

Estimator: with h uniform on [0, 2^60) and the sketch full,
``est = (k-1) * 2^60 / h_(k)``; a sketch holding fewer than k values IS
the exact distinct set (est = count, exact by construction). Union =
the k smallest over both sets (any union-sketch member from A is
necessarily in A's own sketch, so flags survive the merge). Jaccard =
|union-sketch members in both sets| / |union sketch|; intersection =
jaccard * est_union — all integer counts and two pinned IEEE divisions,
identical in both engines.

Scale: each sketch is a TakeOrderedAndProject(k) — per-partition top-k,
no corpus shuffle beyond the one distinct-key aggregation the EXACT
companion legs need anyway. At 100 TB you drop the exact legs (they are
the verification harness, the rel_hll_daily_users policy) and the whole
query is one distinct agg + three k-row heaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kmv_hash(col: F.Column) -> F.Column:
    """Deterministic 60-bit uniform hash: first 15 hex chars of md5,
    as a positive BIGINT — portable to the DuckDB oracle verbatim
    (the dedup/minhash family's hash idiom)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def kmv_setops(
    a: DataFrame,
    b: DataFrame,
    key_col: str = "key",
    k: int = 256,
    a_name: str = "a",
    b_name: str = "b",
) -> DataFrame:
    """Distinct-count set algebra over two key sets: KMV estimates and
    exact companions for |A|, |B|, |A∪B|, |A∩B|.

    Output (4 rows): measure ∈ {a_name, b_name, 'union', 'intersect'},
    est_distinct (double — the KMV estimate, deterministic), and
    exact_distinct (long — the exact verification leg).

    Membership flags ride the distinct-key aggregation, so one pass
    yields the exact counts AND the hash input; the three sketches are
    ordered LIMIT k heaps over the persisted flag table (multi-branch
    persist convention — the distinct agg would otherwise re-run per
    sketch). h_(k) = 0 would divide by zero; that needs an md5 prefix
    of 15 zero nibbles (p ≈ 2^-60 per corpus) and is accepted.
    """
    sides = a.select(
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
        F.col(key_col).cast("string").alias("key"),
    ).unionByName(
        b.select(
            F.lit(0).alias("in_a"),
            F.lit(1).alias("in_b"),
            F.col(key_col).cast("string").alias("key"),
        )
    )
    hashed = (
        sides.groupBy("key")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .select("in_a", "in_b", "key", kmv_hash(F.col("key")).alias("h"))
        .persist()
    )

    exact4 = hashed.agg(
        F.sum("in_a").alias("na"),
        F.sum("in_b").alias("nb"),
        F.count(F.lit(1)).alias("nu"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("ni"),
    ).select(
        F.expr(
            f"stack(4, '{a_name}', na, '{b_name}', nb, "
            "'union', nu, 'intersect', ni) as (measure, exact_distinct)"
        )
    )

    # (k-1) * 2^60: significand k-1 << 2^53, so the double literal is
    # exact and both engines parse the same value.
    scale = F.lit(float((k - 1) * (1 << 60)))

    def est(cnt: F.Column, hk: F.Column) -> F.Column:
        # cnt < k ⇒ the sketch IS the set (exact); the CASE also shields
        # the NULL max(h) of an empty sketch from the division.
        return F.when(cnt < k, cnt.cast("double")).otherwise(
            scale / hk.cast("double")
        )

    def side_est(flag: str, name: str) -> DataFrame:
        # Deterministic heap: ties on h (only possible via md5 collision)
        # break on the key itself, in both engines.
        sk = hashed.filter(F.col(flag) == 1).orderBy("h", "key").limit(k)
        return sk.agg(
            F.count(F.lit(1)).alias("cnt"), F.max("h").alias("hk")
        ).select(
            F.lit(name).alias("measure"),
            est(F.col("cnt"), F.col("hk")).alias("est_distinct"),
        )

    # Union sketch = k smallest over ALL distinct keys; a member that
    # belongs to A is among the k smallest of A too, so the persisted
    # in_a/in_b flags are exactly "is in that side's sketch".
    u_agg = (
        hashed.orderBy("h", "key")
        .limit(k)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("h").alias("hk"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_common"),
        )
    )
    u_est = u_agg.select(
        F.lit("union").alias("measure"),
        est(F.col("cnt"), F.col("hk")).alias("est_distinct"),
    )
    i_est = u_agg.select(
        F.lit("intersect").alias("measure"),
        F.when(F.col("cnt") == 0, F.lit(0.0))
        .otherwise(
            (F.col("n_common").cast("double") / F.col("cnt").cast("double"))
            * est(F.col("cnt"), F.col("hk"))
        )
        .alias("est_distinct"),
    )

    ests = (
        side_est("in_a", a_name)
        .unionByName(side_est("in_b", b_name))
        .unionByName(u_est)
        .unionByName(i_est)
    )
    return ests.join(F.broadcast(exact4), "measure")


def kmv_rollup(
    df: DataFrame,
    key_col: str,
    seg_cols: list[str],
    k: int = 48,
) -> DataFrame:
    """Grouped MERGEABLE KMV sketches rolled up a segment hierarchy —
    the partitioned form of :func:`kmv_setops` (VERDICT r12 #3a): one
    sketch per leaf segment, parent-level sketches built by MERGING
    child sketches (never rescanning the corpus), plus exact companion
    legs per level. This is what real audience-overlap dashboards run:
    distinct counts are NOT additive across segments (the same key
    appears in many), so rolling up requires mergeable sketches — the
    property HLL unions share but that here stays on the deterministic
    md5/KMV surface, so the estimates themselves are hash-checked.

    MERGE CORRECTNESS (the standard KMV property): if key x is among a
    parent's k smallest distinct-key hashes and child C contains x,
    then the hashes smaller than h(x) within C are a subset of those
    smaller than h(x) in the parent (≤ k-1), so x ranks ≤ k in C's own
    sketch — every parent-sketch member survives in some child sketch,
    hence top-k over the union of child sketch rows IS the parent
    sketch. Each merge level therefore reads only bounded sketch rows
    (k × n_child_groups), which is the 100 TB posture: the corpus is
    touched once by the distinct-key aggregation; every rollup level
    above it is arithmetic on k-row heaps (exact legs are the
    verification harness you drop at scale, the kmv_setops policy).

    Output: one row per group per level — ``level`` (comma-joined
    grouping columns, or 'total'), the ``seg_cols`` (NULL where rolled
    up, the SQL ROLLUP convention), ``est_distinct`` (double, the
    deterministic KMV estimate; sub-k sketches degrade to exact), and
    ``exact_distinct`` (long). Estimator and tie-break pins are
    :func:`kmv_setops`'s: est = (k-1)·2^60 / h_(k) with (h, key)
    ordering, both engines reading the same k-th minimum.

    CACHING CONTRACT (ADVICE r13 #4, narrowed r15): the plan persists
    the distinct (segs, key) corpus table plus the LEAF sketch (the two
    frames whose recompute would re-touch corpus-width data from their
    second consumer). Mid/total-level sketches are NOT persisted —
    each is a window over ≤ k × n_child_groups cached-leaf rows, so a
    branch recomputing one costs bounded arithmetic while every
    persist() added a separate cache-materialization job (measured r15:
    the two merge-level persists cost more wall time than they saved).
    The cached frames stay until the caller releases them, as for every
    persisting operator: in a long-lived session run the query inside
    ``caching.cache_scope`` (or call ``spark.catalog.clearCache()`` after
    its last action).

    EXACT LEGS IN ONE PASS (r15 optimization, guide §2.3/§2.4): the
    per-level exact companions used to be three separate pipelines —
    leaf groupBy, plus a corpus-width ``.distinct()`` + re-aggregate for
    EACH merge level (two extra full shuffles of the distinct-key
    table). They are now ONE ``rollup(*segs)`` + ``count(DISTINCT
    key)`` pass: Spark expands each row once per level and dedups
    map-side, so every level's exact count rides a single exchange.
    ``grouping_id()`` distinguishes a rolled-up NULL from a genuine
    NULL segment value, so the (level, _grp) join key is built exactly
    as the est legs build it. Measured at sf0.1: 13 exchanges -> 10,
    output rows bit-identical.
    """
    segs = list(seg_cols)
    # One distinct-key aggregation — the only corpus-width shuffle.
    hashed = (
        df.select(
            *[F.col(c).cast("string").alias(c) for c in segs],
            F.col(key_col).cast("string").alias("_key"),
        )
        .distinct()
        .select(*segs, "_key", kmv_hash(F.col("_key")).alias("_h"))
        .persist()
    )

    scale = F.lit(float((k - 1) * (1 << 60)))

    def est(cnt: F.Column, hk: F.Column) -> F.Column:
        return F.when(cnt < k, cnt.cast("double")).otherwise(
            scale / hk.cast("double")
        )

    def topk(src: DataFrame, gcols: list[str]) -> DataFrame:
        # Deterministic k-minimum heap per group; the constant-keyed
        # window at the total level runs over bounded sketch rows only
        # (k × n_child_groups), never the corpus.
        parts = [F.col(c) for c in gcols] or [F.lit(1)]
        w = Window.partitionBy(*parts).orderBy("_h", "_key")
        return (
            src.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    # Per-level group key for the single est⋈exact combine below:
    # comma-label + unit-separator-joined group values. A constant key
    # per level would constant-fold the join condition into a nested
    # loop; unioning ALL levels first makes (level, _grp) a real
    # data-dependent key, so the combine stays one broadcast hash join.
    # NULL seg values are rendered explicitly (ADVICE r13 #2):
    # concat_ws SKIPS nulls, so (NULL,'x') and ('x',NULL) would collide
    # into one _grp and the combine would fan out, pairing estimates
    # with the wrong exact counts. The \x00 sentinel keeps NULL distinct
    # from every real string; seg values must not contain \x1f or \x00
    # (unit/NUL separators never appear in real segment labels).
    def grp(gcols: list[str]) -> F.Column:
        return (
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c), F.lit("\x00")) for c in gcols]
            )
            if gcols
            else F.lit("")
        )

    est_legs: list[DataFrame] = []
    levels: list[tuple[int, list[str], str]] = []
    sketch = None
    for i in range(len(segs), -1, -1):
        gcols = segs[:i]
        label = ",".join(gcols) if gcols else "total"
        levels.append((i, gcols, label))
        if sketch is None:
            src = hashed  # leaf level: sketch the distinct-key table
        else:
            # Merge level: distinct (group, key, hash) over the CHILD
            # sketch rows — the same key can sit in several child
            # sketches of one parent.
            src = sketch.select(*gcols, "_key", "_h").distinct()
        sketch = topk(src, gcols)
        if i == len(segs):
            # Only the LEAF sketch is persisted (its recompute is a
            # corpus-width window; it feeds its est leg and the first
            # merge). Merge-level sketches recompute from this cache in
            # bounded arithmetic — see the caching-contract docstring.
            sketch = sketch.persist()
        est_legs.append(
            sketch.groupBy(*gcols)
            .agg(F.count(F.lit(1)).alias("_cnt"), F.max("_h").alias("_hk"))
            .select(
                F.lit(label).alias("level"),
                grp(gcols).alias("_grp"),
                *[
                    (F.col(c) if c in gcols else F.lit(None).cast("string")).alias(c)
                    for c in segs
                ],
                est(F.col("_cnt"), F.col("_hk")).alias("est_distinct"),
            )
        )

    # ALL exact companions in one rollup(*segs) + count(DISTINCT key)
    # pass (see docstring). grouping_id bit i (from the right) set <=>
    # segs[i] was rolled up, so level segs[:i] has gid = 2^(n-i) - 1;
    # matching on gid (not on NULL-ness) keeps genuine NULL segment
    # values at the leaf level distinct from rolled-up levels.
    gid = F.col("_gid")
    lvl_expr = None
    grp_expr = None
    for i, gcols, label in levels:
        gv = (1 << (len(segs) - i)) - 1
        lvl_expr = (
            F.when(gid == gv, F.lit(label))
            if lvl_expr is None
            else lvl_expr.when(gid == gv, F.lit(label))
        )
        grp_expr = (
            F.when(gid == gv, grp(gcols))
            if grp_expr is None
            else grp_expr.when(gid == gv, grp(gcols))
        )
    if segs:
        # countDistinct skips NULL keys, but the replaced count(lit(1))
        # over the distinct table counted a NULL key as one — and the est
        # legs still admit the NULL-key sketch row (NULLS FIRST ranks it
        # first), so exact and est legs would silently disagree on a
        # nullable key_col (ADVICE r15 #2; unreachable at the testdata
        # SFs, where keys are non-null). Count the NULL key explicitly to
        # preserve the original semantics.
        null_key = F.max(F.when(F.col("_key").isNull(), 1).otherwise(0))
        exact = (
            hashed.rollup(*segs)
            .agg(
                (F.countDistinct("_key") + null_key)
                .cast("long")
                .alias("exact_distinct"),
                F.grouping_id().alias("_gid"),
            )
            .select(lvl_expr.alias("level"), grp_expr.alias("_grp"), "exact_distinct")
        )
    else:  # degenerate no-segment call: one 'total' level, no rollup
        exact = hashed.agg(F.count(F.lit(1)).alias("exact_distinct")).select(
            F.lit("total").alias("level"), F.lit("").alias("_grp"), "exact_distinct"
        )

    def stack(legs: list[DataFrame]) -> DataFrame:
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        return out

    return stack(est_legs).join(F.broadcast(exact), ["level", "_grp"]).drop("_grp")
