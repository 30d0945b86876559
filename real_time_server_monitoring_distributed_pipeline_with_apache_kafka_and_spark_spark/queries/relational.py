"""Relational query pack: the full join/agg/window/set-op engine surface.

The reference only exercises inner equi-joins and windowed avg/max
(SURVEY.md SS2.3-2.6 "not present" rows); this module covers the rest of the
surface a user of a general engine needs, on the TPC-H-ish testdata.

Float determinism policy (oracle hash-matching): sums of monetary doubles
are computed in exact DECIMAL(12,2) arithmetic (order-independent in any
engine) and cast to DOUBLE at the end; averages are derived sum/count, not
float ``avg()`` whose accumulation order varies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import display_round
from ..sources import load_table

_MONEY = "decimal(12,2)"


def _dsum(col) -> F.Column:
    """Exact, order-independent sum of a 2-decimal double, as double."""
    if isinstance(col, str):
        col = F.col(col)
    return F.sum(col.cast(_MONEY)).cast("double")


def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: 2-key groupBy, 8 aggregates with derived expressions.

    The classic scan->partial agg->shuffle(2 keys)->final agg plan; at 100 TB
    the partial aggregation collapses 600M rows/partition to 6 groups before
    the exchange.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    price = F.col("l_extendedprice").cast(_MONEY)
    disc = F.col("l_discount").cast(_MONEY)
    tax = F.col("l_tax").cast(_MONEY)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(_MONEY)).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def rel_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact->dim + aggregation by dim attribute.

    customer is small at every SF: broadcast it (no shuffle of orders)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice").alias("total_revenue"),
        )
    )


def rel_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: lineitem |> orders |> customer |> nation |> region.

    Dims broadcast (nation/region are tiny, customer small); only the
    fact->orders join shuffles. Revenue per region/nation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast(_MONEY)
    disc = F.col("l_discount").cast(_MONEY)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(price * (1 - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def rel_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, order count (0 for orderless)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(_dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


def rel_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers having at least one 'O' order."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    customer = load_table(spark, sf_dir, "customer")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def rel_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders at all."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def rel_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation supplier and customer counts."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    s = supplier.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_suppliers"))
    c = customer.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    return (
        s.join(c, s.s_nationkey == c.c_nationkey, "full_outer")
        .select(
            F.coalesce(s.s_nationkey, c.c_nationkey).alias("nationkey"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
    )


def rel_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dims (basis for similarity search)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name", "n_regionkey")


def rel_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice: ranking window + filter.

    At scale: partial top-k per partition would beat a full sort per key,
    but row_number over (custkey) is shuffle-once and AQE-coalesced.
    Deterministic tiebreak on o_orderkey.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )


def rel_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum, rank, lag/lead per customer timeline."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(_MONEY))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spent"),
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
    )


def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: EXCEPT / INTERSECT / UNION ALL with a tag column."""
    orders = load_table(spark, sf_dir, "orders")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = o_cust.intersect(f_cust).select(F.lit("both").alias("cohort"), "o_custkey")
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep left-side
    # keys whose multiplicity exceeds the right side's.
    only_o = o_cust.subtract(f_cust).select(F.lit("open_only").alias("cohort"), "o_custkey")
    return both.unionByName(only_o)


def rel_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (dedup on the projected key pair)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").distinct()


def rel_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct in one aggregation (expand + two-phase agg)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with subtotal rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_quantity").alias("sum_qty"),
    )


def rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (mktsegment, nationkey): all grouping-set combinations."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.cube("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum("c_acctbal").alias("sum_acctbal"),
    )


def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per market segment."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )


def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): part's numeric attributes to long form — the
    inverse reshape of rel_pivot and the standard prep for
    one-metric-per-row stores and per-attribute profiling. Spark's
    native ``unpivot`` plans as an Expand (each input row emitted once
    per attribute inside the scan stage) — zero shuffles, scan-shaped
    at any scale; the oracle is the portable UNION ALL formulation of
    the same semantics.
    """
    part = load_table(spark, sf_dir, "part")
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="attr",
        valueColumnName="val",
    ).select("p_partkey", "attr", F.col("val").cast("double").alias("val"))


def rel_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: orderBy + limit (TakeOrderedAndProject - no full sort).

    Deterministic tiebreak on o_orderkey so the row set is stable.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def rel_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING: post-aggregation filter."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum("o_totalprice").alias("total_spent"))
        .filter(F.col("n_orders") >= 3)
    )


def rel_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions (F3/F4 surface and beyond)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.col("p_name").contains("green").alias("has_green"),
        F.col("p_type").startswith("STANDARD").alias("is_standard"),
    )


def rel_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date/time functions (F1 surface and beyond)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_format("o_orderdate", "HH:mm:ss").alias("order_time"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.to_date("o_orderdate").alias("order_date"),
    )


def rel_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math functions restricted to IEEE-exact ops (cross-engine)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    v = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        F.abs(v - 3000.0).alias("abs_dev"),
        F.ceil(v).alias("price_ceil"),
        F.floor(v).alias("price_floor"),
        F.sqrt(v).alias("price_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(v - 3000.0).alias("dev_sign"),
        (v * v).alias("price_sq"),
        F.greatest(v, F.lit(1000.0)).alias("price_floor1k"),
        F.least(v, F.lit(5000.0)).alias("price_cap5k"),
    )


def rel_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalars: coalesce / nullif / null predicates."""
    customer = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return customer.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "segment_or_other"
        ),
        F.when(bal < 0, None).otherwise(bal).alias("pos_bal"),
        (bal < 0).alias("is_negative"),
        F.isnull(F.nullif(F.col("c_nationkey"), F.lit(3))).alias("is_nation3"),
    )


def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.joins.asof_join): each click event gets the
    most recent error event at or before it, per user.

    The right side is pre-aggregated to one row per (user, ts) so the
    as-of match is deterministic across engines. Union+window merge: one
    shuffle on user_id regardless of time density (the naive range-join
    formulation is quadratic inside hot users).
    """
    from ..operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    out = asof_join(clicks, errors, key_cols=["user_id"], ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("err_value_right").alias("err_value"),
        F.col("ts_right").alias("err_ts"),
    )


def rel_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators.joins.salted_join): lineitem x orders on
    the (potentially hot) orderkey, spread over 8 salted subkeys, then
    revenue by order priority. Salting is result-invariant, so the oracle
    is the plain unsalted join."""
    from ..operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), orders, ["o_orderkey"], n_salts=8
    )
    price = F.col("l_extendedprice").cast(_MONEY)
    disc = F.col("l_discount").cast(_MONEY)
    return joined.groupBy("o_orderpriority").agg(
        F.sum(price * (1 - disc)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def rel_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: stddev/variance from EXACT decimal
    power sums (sum x, sum x^2 are exact for 2-decimal inputs, so the final
    double arithmetic is order-independent and bit-identical across
    engines — a plain stddev_samp() differs in the last ulp per
    accumulation order)."""
    events = load_table(spark, sf_dir, "events")
    x = F.col("value").cast(_MONEY)
    x2 = (F.col("value").cast(_MONEY) * F.col("value").cast(_MONEY))
    grouped = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sum_value"),
        F.sum(x2).cast("double").alias("_sum_sq"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    n = F.col("n")
    mean = F.col("sum_value") / n
    var = (F.col("_sum_sq") - F.col("sum_value") * F.col("sum_value") / n) / (n - 1)
    return grouped.select(
        "event_type",
        "n",
        "sum_value",
        mean.alias("mean_value"),
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
        "min_value",
        "max_value",
    )


def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per group — the 100 TB path
    for cardinality (mergeable sketch, no exact-distinct shuffle) — as a
    hash-checked ACCURACY REPORT (r10, VERDICT r09 #6): both legs run
    (the sketch and the exact distinct), and what the query emits is the
    exact cardinality plus a boolean asserting the sketch landed within
    its documented band (default rsd 0.05, checked at 3x => 15%). The
    raw estimate is engine-specific and stays OUT of the hash surface
    (the monitor_heavy_hitters `hi`-column policy); the accuracy
    CONTRACT is what the driver oracle now checks — TRUE in SQL, so a
    sketch drifting out of band is a driver hash mismatch, not a silent
    rows-only pass (the sim_ann_recall "quality is a fact" pattern).
    At 100 TB the exact leg is the verification harness you drop:
    ``F.approx_count_distinct`` alone is the production expression, and
    the pinned tests keep the tighter 5% empirical band."""
    orders = load_table(spark, sf_dir, "orders")
    est = F.approx_count_distinct("o_custkey")
    exact = F.count_distinct(F.col("o_custkey"))
    ok = (
        F.abs(est.cast("double") - exact.cast("double"))
        <= F.lit(0.15) * exact.cast("double")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact.alias("exact_customers"),
        ok.alias("hll_within_band"),
    )


def rel_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/median/p75) per group.

    ``F.percentile`` is the exact sort-based aggregate (use
    ``approx_percentile`` sketches at 100 TB where a full per-group sort
    is not worth it; that path is rows-only checkable like
    rel_approx_distinct)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.25).alias("p25"),
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.75).alias("p75"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_APPROX_PCT_ACC = 10000
_APPROX_PCT_QS = (0.25, 0.5, 0.75)


def rel_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles: the 100 TB path rel_percentile's docstring
    points at. ``approx_percentile`` builds a bounded-memory mergeable
    sketch per partition (map-side partial agg) instead of materializing a
    per-group sort — state is O(accuracy), not O(rows) — as a hash-checked
    RANK-CONTRACT report (r10, VERDICT r09 #6): the sketch's guarantee is
    that the returned element's RANK is within n/accuracy of the target
    rank, so the query joins each group's approx p25/p50/p75 back to the
    rows and emits booleans checking exactly that (duplicate-safe, both
    engines agree on counting: count(< v) must not overshoot the target
    and count(<= v) must reach it, each with n/accuracy + 1 slack). The
    raw sketch values are engine-specific and stay OUT of the hash
    surface (monitor_heavy_hitters policy); the rank contract is TRUE in
    the SQL oracle, so a sketch violating its bound is a driver hash
    mismatch. The tighter 1%-of-value empirical band stays pinned in
    tests/test_joins.py. Scale shape: one sketch agg + one group-key
    join + one conditional agg — the verification legs you drop at
    100 TB, where the sketch agg alone is the production expression."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    acc = F.lit(_APPROX_PCT_ACC)
    sk = orders.groupBy("o_orderpriority").agg(
        *[
            F.approx_percentile("o_totalprice", F.lit(q), acc).alias(f"_a{int(q*100)}")
            for q in _APPROX_PCT_QS
        ],
        F.count(F.lit(1)).alias("n_orders"),
    )
    j = orders.join(sk, "o_orderpriority")
    n = F.col("n_orders").cast("double")
    tol = n / F.lit(float(_APPROX_PCT_ACC)) + F.lit(1.0)
    aggs = [F.first("n_orders").alias("n_orders")]
    oks = []
    for q in _APPROX_PCT_QS:
        v = F.col(f"_a{int(q*100)}")
        lt = F.sum(
            F.when(F.col("o_totalprice") < v, 1).otherwise(0)
        ).alias(f"_lt{int(q*100)}")
        le = F.sum(
            F.when(F.col("o_totalprice") <= v, 1).otherwise(0)
        ).alias(f"_le{int(q*100)}")
        aggs.extend([lt, le])
    g = j.groupBy("o_orderpriority").agg(*aggs)
    for q in _APPROX_PCT_QS:
        target = F.lit(1.0) + F.lit(q) * (n - F.lit(1.0))
        ok = (
            F.col(f"_lt{int(q*100)}").cast("double") < target + tol
        ) & (F.col(f"_le{int(q*100)}").cast("double") >= target - tol)
        oks.append(ok.alias(f"rank_ok_p{int(q*100)}"))
    return g.select("o_orderpriority", "n_orders", *oks)


def rel_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (multimodal/props surface):
    path extraction as string and number, typed from_json struct access."""
    events = load_table(spark, sf_dir, "events")
    k_int = F.from_json("props", "k INT").getField("k")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("double").alias("k_num"),
        k_int.alias("k_int"),
        (k_int % 5).alias("k_mod5"),
        k_int.isNotNull().alias("has_k"),
    )


def rel_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames + distribution functions: 3-row moving average
    (exact decimal sum / count), first_value, ntile, percent_rank,
    cume_dist over each customer's order timeline."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame3 = w.rowsBetween(-2, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(F.col("o_totalprice").cast(_MONEY)).over(frame3).cast("double")
            / F.count(F.lit(1)).over(frame3)
        ).alias("moving_avg3"),
        F.first("o_orderkey").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via operators.joins.bucketed_range_join:
    lineitems whose price falls in each large part's +/-10% retail band,
    as a bucketed equi-join instead of Spark's nested-loop theta join."""
    from ..operators.joins import bucketed_range_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    bands = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 50)
        .select(
            "p_partkey",
            (F.col("p_retailprice") * 0.9).alias("lo"),
            (F.col("p_retailprice") * 1.1).alias("hi"),
        )
    )
    joined = bucketed_range_join(li, bands, "l_extendedprice", "lo", "hi", 100.0)
    return joined.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_extendedprice").alias("sum_price"),
    )


def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with an explicit (non-rollup/cube) set list, via the
    SQL entry point (spark.sql over a registered temp view)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def rel_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + correlated EXISTS subqueries through spark.sql: customers
    with above-average balance holding at least one open order. The scalar
    average is exact decimal-sum/count so the comparison boundary is
    bit-identical across engines."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer_v c
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                  / count(*) FROM customer_v)
          AND EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        """
    )


def rel_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the embedding column (scalar outputs only so
    the oracle hash compares floats, not list formatting): size,
    element access, min/max, explicit head-4 sum, higher-order filter."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    head4 = (
        F.element_at(e, 1).cast("double")
        + F.element_at(e, 2).cast("double")
        + F.element_at(e, 3).cast("double")
        + F.element_at(e, 4).cast("double")
    )
    return emb.select(
        "vec_id",
        F.size(e).alias("n_dims"),
        F.element_at(e, 1).cast("double").alias("first_dim"),
        F.element_at(e, -1).cast("double").alias("last_dim"),
        F.array_max(e).cast("double").alias("max_dim"),
        F.array_min(e).cast("double").alias("min_dim"),
        head4.alias("sum_head4"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
    )


def rel_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-state merge (operators.changelog.apply_changelog): the
    events log read as a changelog on user_id — every event upserts the
    user's current (event_type, value) state, 'error' events are
    tombstones. One max_by hash aggregation (map-side partial, no window
    sort); the oracle is the classic row_number()=1 formulation."""
    from ..operators.changelog import apply_changelog

    events = load_table(spark, sf_dir, "events")
    changes = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    merged = apply_changelog(
        changes, key_cols=["user_id"], seq_cols=["ts", "event_id"], op_col="op"
    )
    return merged.select("user_id", "ts", "event_id", "event_type", "value")


def rel_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (operators.changelog.scd2_intervals): per-user
    contiguous runs of event_type become [valid_from, valid_to) validity
    intervals. One exchange on user_id; all three windows + the run
    aggregate reuse that co-location."""
    from ..operators.changelog import scd2_intervals

    events = load_table(spark, sf_dir, "events")
    return scd2_intervals(
        events.select("user_id", "ts", "event_id", "event_type"),
        key_cols=["user_id"],
        attr_col="event_type",
        ts_col="ts",
        seq_cols=["ts", "event_id"],
    )


def rel_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 self-join on customer names via symmetric-delete
    blocking (operators.joins.fuzzy_self_join): generate/equi-join/verify,
    never all-pairs. The oracle IS the all-pairs formulation (fine at
    sf0.01), which doubles as the blocking-losslessness check."""
    from ..operators.joins import fuzzy_self_join

    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_self_join(customer, text_col="c_name", id_col="c_custkey")


def rel_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution survivorship composite (r15, VERDICT r14 #2b):
    blocking → pairwise scoring → transitive clustering → golden-record
    merge as ONE query — the master-data shape every warehouse dedup of
    customer records runs.

    Stage plan, each leg an already-proven operator:
    1. BLOCKING + SCORING: ``operators.joins.fuzzy_self_join`` with
       ``block_cols=(c_nationkey, c_mktsegment)`` — symmetric-delete
       candidate generation where the block values are folded into the
       candidate hash key, so cross-block candidates never meet in the
       join (at scale the block divides every bucket by ~|nation×segment|
       = 125); exact levenshtein ≤ 1 + block-equality verify.
    2. CLUSTERING: ``operators.dedup.connected_components`` closes the
       match graph under transitivity (min-id labels; pointer-doubling
       distributed loop with the small-graph fast path — match edges are
       ~duplicates, not corpus-sized).
    3. SURVIVORSHIP: one hash aggregate per entity cluster — oldest
       record's name wins (``min_by(c_name, c_custkey)``), attributes the
       block guarantees uniform take ``min``, balances merge as
       ``max``/exact-DECIMAL ``sum`` — the deterministic golden record.

    The oracle replays blocking+scoring as a block-local join (never
    all-pairs), closes it with a recursive CTE, and applies the same
    survivorship rules (``arg_min`` = ``min_by``), so the driver
    hash-checks the ENTIRE composite including the merge.

    At 100 TB: candidate generation is hash-partitioned on the block+
    variant key; the label join and the survivorship agg both cluster on
    entity keys (map-side partials); nothing all-pairs, nothing driver-
    side except the CC convergence flag."""
    from ..operators.dedup import connected_components
    from ..operators.joins import fuzzy_self_join

    customer = load_table(spark, sf_dir, "customer")
    pairs = fuzzy_self_join(
        customer.select("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
        text_col="c_name",
        id_col="c_custkey",
        block_cols=["c_nationkey", "c_mktsegment"],
    )
    labels = connected_components(
        pairs.select(F.col("id_a").alias("a_id"), F.col("id_b").alias("b_id")),
        customer.select("c_custkey"),
        id_col="c_custkey",
    )
    merged = customer.join(labels, "c_custkey")
    return merged.groupBy(F.col("cluster_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min_by("c_name", "c_custkey").alias("name"),
        F.min("c_mktsegment").alias("c_mktsegment"),
        F.min("c_nationkey").alias("c_nationkey"),
        F.max("c_acctbal").alias("max_acctbal"),
        _dsum("c_acctbal").alias("total_acctbal"),
    )


def rel_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise winsorization: clamp each event's value to its
    event_type's exact [p05, p95], then robust per-group stats over the
    clamped values — the standard outlier-tolerant aggregation a metrics
    pipeline runs before alert thresholds.

    Two grouped passes over the fact: the tiny per-group percentile table
    (one row per event_type) broadcasts back onto the fact — the fact
    never shuffles for the join, and both aggregations partial map-side.

    Float policy: p05/p95 via ``F.percentile`` (exact interpolation, same
    arithmetic as DuckDB quantile_cont, proven by rel_percentile) are
    display-rounded to 6 decimals BEFORE clamping, so every clamped value
    is either a 2-decimal input or a 6-decimal bound — exactly
    representable in DECIMAL(18,6), making the sum order-independent and
    engine-exact (a raw interpolated double cast to decimal would be
    hostage to the two engines' double->decimal rounding).
    """
    from ..functions.numeric import display_round

    events = load_table(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        display_round(F.percentile("value", 0.05), 6).alias("p05"),
        display_round(F.percentile("value", 0.95), 6).alias("p95"),
    )
    clamped = events.join(F.broadcast(bounds), "event_type").withColumn(
        "_w", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    x = F.col("_w").cast("decimal(18,6)")
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
        F.sum(x).cast("double").alias("sum_wins"),
        (F.sum(x).cast("double") / F.count(F.lit(1))).alias("mean_wins"),
        F.sum((F.col("value") < F.col("p05")).cast("int")).alias("n_clamped_low"),
        F.sum((F.col("value") > F.col("p95")).cast("int")).alias("n_clamped_high"),
    )


def rel_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier report per event_type: the
    robust two-parameter (median, MAD) location/scale estimate and the
    count of events beyond 3 MADs — the outlier flag that, unlike
    z-scores, a few extreme values cannot drag around (50% breakdown
    point vs 0%). rel_winsorize's sibling: that one CLAMPS tails, this
    one COUNTS them against a robust scale.

    Plan shape: three grouped passes over the fact (median -> MAD ->
    flag counts), each collapsing map-side to one row per event_type;
    the tiny per-group stats broadcast back, so the fact never shuffles.
    MAD is inherently two-pass (the deviation needs the median first) —
    at 100 TB the two extra scans beat a global sort, and a sketch
    median (approx_percentile) can replace both exact passes where error
    tolerance allows.

    Float policy (same as rel_winsorize): median and MAD are exact
    interpolated percentiles (F.percentile == DuckDB quantile_cont,
    proven by rel_percentile), display-rounded to 6 decimals BEFORE any
    comparison, so the ``absdev > 3 * mad`` boundary is the same IEEE
    op sequence in both engines.
    """
    events = load_table(spark, sf_dir, "events")
    return mad_outlier_report(events, "event_type", "value")


def mad_outlier_report(df: DataFrame, key_col: str, val_col: str) -> DataFrame:
    """Shared MAD core (see :func:`rel_mad_outliers` for semantics and
    float policy). Exercised both by the registry query and the
    brute-force property test, so a regression in the formulation is
    caught against a numpy re-derivation."""
    from ..functions.numeric import display_round

    med = df.groupBy(key_col).agg(
        display_round(F.percentile(val_col, 0.5), 6).alias("med")
    )
    dev = df.join(F.broadcast(med), key_col).withColumn(
        "_absdev", F.abs(F.col(val_col) - F.col("med"))
    )
    mad = dev.groupBy(key_col).agg(
        display_round(F.percentile("_absdev", 0.5), 6).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), key_col)
    n_out = F.sum((F.col("_absdev") > 3.0 * F.col("mad")).cast("int"))
    return flagged.groupBy(key_col).agg(
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.count(F.lit(1)).alias("n_events"),
        n_out.alias("n_outliers"),
        display_round(
            n_out.cast("double") / F.count(F.lit(1)).cast("double"), 9
        ).alias("outlier_frac"),
    )


def rel_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames: each order sees its customer's trailing
    30-DAY order count and exact decimal revenue — value-range frames
    (all peers at equal dates included, deterministic by construction),
    not the positional ROWS frames rel_window_frames covers.

    The order key is an integer DAY INDEX (datediff from an epoch), not
    a raw timestamp: the DataFrame ``rangeBetween`` API takes numeric
    offsets, and an integer lattice makes the frame boundary
    engine-exact (interval-literal RANGE frames coerce differently
    across engines).
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day.alias("day_idx"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum(F.col("o_totalprice").cast(_MONEY)).over(w).cast("double").alias(
            "revenue_30d"
        ),
    )


def rel_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three conjunctive
    branch predicates spanning BOTH join sides (brand x size-band x
    quantity-band). The optimizer test case for disjunction handling —
    the join keys still push down (candidates must satisfy SOME branch's
    part-side conjuncts), and the exact decimal sum keeps the single
    output row hash-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    branch2 = (
        (F.col("p_brand") == "Brand#7")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 35))
    )
    branch3 = (
        (F.col("p_brand") == "Brand#20")
        & (F.col("p_size").between(20, 50))
        & (F.col("l_quantity").between(20, 50))
    )
    price = F.col("l_extendedprice").cast(_MONEY)
    disc = F.col("l_discount").cast(_MONEY)
    return j.filter(branch1 | branch2 | branch3).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(price * (1 - disc)).cast("double").alias("revenue"),
    )


def rel_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface over events.props: JSON parsed to a
    ``map<string,int>``, then map_keys/size/element_at/contains — the
    schema-flexible complement of rel_json_funcs' fixed-struct
    extraction (real props payloads carry open key sets)."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return events.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.element_at(m, "k").alias("k_val"),
        F.array_contains(F.map_keys(m), "k").alias("has_k"),
    )


_PR_SCALE = 10**12
_PR_ITERS = 5


def rel_pagerank_coparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part CO-PURCHASE graph (parts sharing an order,
    symmetric edges) — the second iterative algorithm in the engine
    after connected components, and unlike most distributed PageRanks it
    is fully ORACLE-HASHABLE: ranks live on an integer 1e-12 lattice and
    every update is integer arithmetic (``rank div outdeg`` per edge,
    ``150e9 + (85 * sum) div 100`` per node), so five unrolled
    iterations produce bit-identical longs in any engine — no float
    accumulation order anywhere.

    Per iteration: one shuffle join of the (static, persisted) edge list
    against the current rank table + one hash aggregate on the
    destination — the classic Pregel-as-joins shape. Five static
    iterations keep the plan finite for the driver; an open-ended run
    would localCheckpoint per round exactly like
    operators.dedup.connected_components. Nodes = edge endpoints
    (isolated parts have no co-purchase evidence and no rank).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
        .persist()
    )
    # The edge⋈outdeg join is loop-invariant: attach the out-degree to
    # each edge ONCE and persist that — per iteration only the (tiny,
    # broadcastable) rank table joins in.
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_d = edges.join(outdeg, "src").persist()
    ranks = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "rank", F.lit(_PR_SCALE).cast("long")
    )
    for _ in range(_PR_ITERS):
        # No explicit broadcast: at this SF AQE broadcasts the small rank
        # table on its own, and at 1e9-node scale a shuffle join is the
        # correct plan — the hint would force a driver collect there.
        contribs = edges_d.join(ranks, edges_d.src == ranks.node).select(
            "dst", F.expr("rank div outdeg").alias("c")
        )
        ranks = (
            contribs.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                F.expr("150000000000 + (85 * s) div 100").alias("rank"),
            )
        )
    return ranks


def _pagerank_sql() -> str:
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         150000000000 + (85 * sum(p.rank // d.outdeg)) // 100 AS rank
  FROM edges e
  JOIN r{i - 1} p ON p.node = e.src
  JOIN outdeg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
    joined = ",\n".join(steps)
    return f"""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT DISTINCT src AS node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM edges),
{joined}
SELECT node, CAST(rank AS BIGINT) AS rank FROM r{_PR_ITERS}
"""


def rel_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL, built
    into Spark): one user-id sketch per day, then per-day estimates plus
    an 'ALL' row whose estimate comes from UNIONING the daily sketches —
    never re-scanning events. This is the warehouse pattern approx_
    count_distinct alone can't express: store per-partition sketches
    once, answer any date-range distinct-count by merging O(days)
    sketch blobs.

    Hash-checked accuracy report since r10 (VERDICT r09 #6, replacing the
    original rows-only contract): the DataSketches binary/estimates are
    not replayable in the SQL oracle engine, so the ESTIMATE stays out of
    the hash surface (monitor_heavy_hitters policy) and the query instead
    emits the exact per-day / unioned distinct counts plus a boolean
    asserting each estimate landed within 5% of exact (default lgK=12 =>
    rsd ~1.6%, checked at ~3x). TRUE in SQL — a sketch or union drifting
    out of band is now a driver hash mismatch. The exact legs are the
    verification harness you drop at 100 TB (sketch-only is the
    production path: store per-day sketch blobs, merge O(days) of them
    per range query); the tighter empirical pins stay in pytest.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    # Persisted: |days| rows, read by BOTH branches (per-day report and
    # the union-of-sketches ALL row) — without it each branch re-scans
    # events and re-runs the sketch + exact-distinct aggs (the README's
    # multi-branch persist convention). Release via caching.released().
    daily = events.groupBy(day).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    ).persist()

    def banded(est, exact):
        return F.abs(est.cast("double") - exact.cast("double")) <= F.lit(
            0.05
        ) * exact.cast("double")

    per_day = daily.select(
        "day",
        "exact_users",
        "n_events",
        banded(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias(
            "hll_within_band"
        ),
    )
    exact_all = events.agg(
        F.count_distinct(F.col("user_id")).alias("exact_users")
    )
    total = daily.agg(
        F.lit("ALL").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
        F.sum("n_events").alias("n_events"),
    ).crossJoin(F.broadcast(exact_all)).select(
        "day",
        "exact_users",
        "n_events",
        banded(F.col("_est"), F.col("exact_users")).alias("hll_within_band"),
    )
    return per_day.unionByName(total)


_KMV_K = 256


def rel_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV distinct-count SET ALGEBRA: estimated and exact
    |A|, |B|, |A∪B|, |A∩B| where A = user-days with a click and
    B = user-days with a view — the audience-overlap question HLL
    cannot answer (HLL unions but never intersects; theta sketches do
    both — the genuinely absent operator class VERDICT r11 #6 pointed
    the round's third slot at).

    The KMV here is md5-based and deterministic, so unlike the
    DataSketches HLL leg the ESTIMATES themselves are hash-checked: the
    DuckDB oracle rebuilds the same k=256 smallest-hash sketches and
    reads the same k-th minimums. Exact companions ride the same
    distinct-key pass (the rel_hll_daily_users policy: exact legs are
    the verification harness you drop at 100 TB; the sketches are
    TakeOrderedAndProject heaps and survive any scale).
    """
    from ..operators.sketches import kmv_setops

    ev = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("_"),
        F.date_trunc("day", F.col("ts")).cast("long").cast("string"),
    )
    base = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_type", key.alias("key")
    )
    return kmv_setops(
        base.filter(F.col("event_type") == "click").select("key"),
        base.filter(F.col("event_type") == "view").select("key"),
        key_col="key",
        k=_KMV_K,
        a_name="click",
        b_name="view",
    )


def _theta_setops_oracle(k: int = _KMV_K) -> str:
    """DuckDB replay of the KMV set algebra: same key strings, same
    60-bit md5 hash, same LIMIT-k sketches with (h, key) tie-break,
    same exact-count formulas, same pinned IEEE divisions."""
    scale = f"{float((k - 1) * (1 << 60))!r}"
    est = f"CASE WHEN cnt < {k} THEN CAST(cnt AS DOUBLE) ELSE {scale} / CAST(hk AS DOUBLE) END"
    return f"""
WITH keys AS (
  SELECT concat(CAST(user_id AS VARCHAR), '_',
                CAST(CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS VARCHAR)) AS key,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_b
  FROM events
  WHERE event_type IN ('click', 'view')
  GROUP BY 1
),
hashed AS (
  SELECT in_a, in_b, key,
         CAST(concat('0x', substr(md5(key), 1, 15)) AS BIGINT) AS h
  FROM keys
),
a_agg AS (
  SELECT count(*) AS cnt, max(h) AS hk
  FROM (SELECT h FROM hashed WHERE in_a = 1 ORDER BY h, key LIMIT {k})
),
b_agg AS (
  SELECT count(*) AS cnt, max(h) AS hk
  FROM (SELECT h FROM hashed WHERE in_b = 1 ORDER BY h, key LIMIT {k})
),
u_agg AS (
  SELECT count(*) AS cnt, max(h) AS hk, sum(in_a * in_b) AS n_common
  FROM (SELECT in_a, in_b, h, key FROM hashed ORDER BY h, key LIMIT {k})
),
ests AS (
  SELECT 'click' AS measure, {est} AS est_distinct FROM a_agg
  UNION ALL
  SELECT 'view', {est} FROM b_agg
  UNION ALL
  SELECT 'union', {est} FROM u_agg
  UNION ALL
  SELECT 'intersect',
         CASE WHEN cnt = 0 THEN 0.0
              ELSE (CAST(n_common AS DOUBLE) / CAST(cnt AS DOUBLE)) * ({est})
         END
  FROM u_agg
),
exact AS (
  SELECT 'click' AS measure, CAST(sum(in_a) AS BIGINT) AS exact_distinct FROM keys
  UNION ALL
  SELECT 'view', CAST(sum(in_b) AS BIGINT) FROM keys
  UNION ALL
  SELECT 'union', CAST(count(*) AS BIGINT) FROM keys
  UNION ALL
  SELECT 'intersect', CAST(sum(in_a * in_b) AS BIGINT) FROM keys
)
SELECT measure, est_distinct, exact_distinct
FROM ests JOIN exact USING (measure)
"""


_KMV_ROLLUP_K = 48


def rel_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MERGEABLE KMV sketch rollup (r13, VERDICT r12 #3a — the
    partitioned form of rel_theta_sketch_setops): distinct users per
    (event_type, day) leaf segment, rolled up to per-event_type and the
    grand total by MERGING child sketches — the corpus is touched once
    by the distinct-key aggregation; every level above is a k-row-heap
    merge (operators.sketches.kmv_rollup documents the standard KMV
    merge property that makes parent-from-children exact). Distinct
    counts are NOT additive across segments (the same user appears in
    many), which is exactly why real audience dashboards need mergeable
    sketches rather than summed leaf counts.

    k=48 so the oracle SF exercises BOTH estimator branches: sf0.01
    leaves hold 42-67 distinct users, so some degrade to exact (cnt<k)
    while others estimate from the k-th minimum — and every rollup
    level estimates. Exact companions per level ride the same distinct
    table (the kmv_setops policy: drop them at 100 TB; the sketches
    survive any scale). Estimates are md5-deterministic and therefore
    on the hash surface, replayed end-to-end by the DuckDB oracle."""
    from ..operators.sketches import kmv_rollup

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day"),
        F.col("user_id").alias("user_key"),
    )
    return kmv_rollup(
        base, key_col="user_key", seg_cols=["event_type", "day"], k=_KMV_ROLLUP_K
    )


def _sketch_rollup_oracle(k: int = _KMV_ROLLUP_K) -> str:
    """DuckDB replay of the mergeable-KMV rollup: same distinct-key
    table, same 60-bit md5 hash, same per-level (h, key)-ordered
    row_number heaps, and — the merge contract — each parent level's
    sketch built from the CHILD level's sketch rows, exactly like the
    Spark side."""
    scale = f"{float((k - 1) * (1 << 60))!r}"

    def est(cnt: str = "cnt", hk: str = "hk") -> str:
        return (
            f"CASE WHEN {cnt} < {k} THEN CAST({cnt} AS DOUBLE)"
            f" ELSE {scale} / CAST({hk} AS DOUBLE) END"
        )

    return f"""
WITH dk AS (
  SELECT DISTINCT event_type,
         CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
         CAST(user_id AS VARCHAR) AS ukey
  FROM events
),
hashed AS (
  SELECT event_type, day, ukey,
         CAST(concat('0x', substr(md5(ukey), 1, 15)) AS BIGINT) AS h
  FROM dk
),
leaf_sk AS (
  SELECT event_type, day, ukey, h FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, day ORDER BY h, ukey) AS rn
    FROM hashed) WHERE rn <= {k}
),
leaf_est AS (
  SELECT event_type, day, count(*) AS cnt, max(h) AS hk
  FROM leaf_sk GROUP BY 1, 2
),
leaf_exact AS (
  SELECT event_type, day, count(*) AS exact_distinct FROM dk GROUP BY 1, 2
),
mid_src AS (SELECT DISTINCT event_type, ukey, h FROM leaf_sk),
mid_sk AS (
  SELECT event_type, ukey, h FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type ORDER BY h, ukey) AS rn
    FROM mid_src) WHERE rn <= {k}
),
mid_est AS (
  SELECT event_type, count(*) AS cnt, max(h) AS hk FROM mid_sk GROUP BY 1
),
mid_exact AS (
  SELECT event_type, count(DISTINCT ukey) AS exact_distinct FROM dk GROUP BY 1
),
tot_src AS (SELECT DISTINCT ukey, h FROM mid_sk),
tot_sk AS (
  SELECT ukey, h FROM (
    SELECT *, row_number() OVER (ORDER BY h, ukey) AS rn
    FROM tot_src) WHERE rn <= {k}
),
tot_est AS (SELECT count(*) AS cnt, max(h) AS hk FROM tot_sk),
tot_exact AS (SELECT count(DISTINCT ukey) AS exact_distinct FROM dk)
SELECT 'event_type,day' AS level, e.event_type, e.day,
       {est('e.cnt', 'e.hk')} AS est_distinct, x.exact_distinct
FROM leaf_est e JOIN leaf_exact x USING (event_type, day)
UNION ALL
SELECT 'event_type', e.event_type, CAST(NULL AS VARCHAR),
       {est('e.cnt', 'e.hk')}, x.exact_distinct
FROM mid_est e JOIN mid_exact x USING (event_type)
UNION ALL
SELECT 'total', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       {est()}, exact_distinct
FROM tot_est, tot_exact
"""


def rel_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query leg of the SCD2 story: which attribute version was valid for
    each user at each probe date ("what was this dimension row on the
    12th") — the half-open interval containment lookup every versioned
    dimension serves.

    One probe lattice per user (daily midnights, explode of a sequence —
    no cross join), equi-join on the user key, then the
    ``valid_from <= p < valid_to`` (NULL = current) containment filter:
    an EQUI join plus post-filter, since per-key interval counts are
    small; for wide keyless interval sets use
    operators.joins.bucketed_range_join instead. Probes before a user's
    first interval simply have no row.
    """
    from ..operators.changelog import scd2_intervals

    events = load_table(spark, sf_dir, "events")
    intervals = scd2_intervals(
        events.select("user_id", "ts", "event_id", "event_type"),
        key_cols=["user_id"],
        attr_col="event_type",
        ts_col="ts",
        seq_cols=["ts", "event_id"],
    )
    ts_type = dict(events.dtypes)["ts"]
    probes = (
        events.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.lit("2024-01-02 00:00:00").cast(ts_type),
                    F.lit("2024-01-31 00:00:00").cast(ts_type),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("probe_ts"),
        )
    )
    return (
        probes.join(intervals, "user_id")
        .filter(
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to")))
        )
        .select("user_id", "probe_ts", "event_type")
    )


def rel_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct FEATURE JOIN (the feature-store primitive):
    a spine of label events (purchases) enriched with the latest value of
    each feature source AS OF the spine timestamp — here two sources
    (last click, last view per user), i.e. two chained as-of joins. PIT
    correctness is what prevents train-time leakage: a feature row from
    AFTER the label timestamp must never attach.

    Each as-of join is the union+window merge (one shuffle per source,
    never a quadratic range join — operators.joins.asof_join); chaining
    keeps the spine partitioned by user across both merges. Feature
    sources are pre-aggregated to one row per (user, ts) so matches are
    deterministic across engines.
    """
    from ..operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    spine = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("label_value")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    with_clicks = asof_join(spine, clicks, key_cols=["user_id"], ts_col="ts").select(
        "event_id",
        "user_id",
        "ts",
        "label_value",
        F.col("click_value_right").alias("f_click_value"),
        F.col("ts_right").alias("f_click_ts"),
    )
    return asof_join(with_clicks, views, key_cols=["user_id"], ts_col="ts").select(
        "event_id",
        "user_id",
        "ts",
        "label_value",
        "f_click_value",
        "f_click_ts",
        F.col("view_value_right").alias("f_view_value"),
        F.col("ts_right").alias("f_view_ts"),
    )


def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month,
    counted in each subsequent month they ordered again — the standard
    retention triangle every warehouse produces.

    Month arithmetic is integer (year*12 + month), NOT months_between:
    Spark's and other engines' fractional month semantics differ at
    month-end corners, while the integer lattice is engine-exact. Two
    hash aggregations (first order per customer; distinct customers per
    (cohort, offset) cell) and one broadcast-eligible join of the
    per-customer cohort table back onto orders.
    """
    orders = load_table(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = (
        orders.select("o_custkey", ym.alias("ym"))
        .groupBy("o_custkey")
        .agg(F.min("ym").alias("cohort_ym"))
    )
    cells = (
        orders.select("o_custkey", ym.alias("ym"))
        .join(firsts, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("months_since"))
        .agg(F.count_distinct("o_custkey").alias("n_customers"))
    )
    cohort_str = F.concat_ws(
        "-",
        F.floor((F.col("cohort_ym") - 1) / 12).cast("int"),
        F.lpad((F.pmod(F.col("cohort_ym") - 1, F.lit(12)) + 1).cast("string"), 2, "0"),
    )
    return cells.select(
        cohort_str.alias("cohort_month"), "months_since", "n_customers"
    )


def rel_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge overlapping ranges): each order opens a
    30-day validity window; per customer, overlapping/touching windows
    merge into maximal coverage spans — the dedup-of-time-ranges
    primitive behind downtime consolidation, contract-coverage reports,
    and SCD interval repair.

    Gaps-and-islands: one window pass computes the running max of prior
    interval ends; a row starts a new island iff its start exceeds that
    max; the island ordinal is a running sum of those flags; one hash
    agg per (customer, island) emits the span. Both windows sort only
    within the customer partition (the same key the agg shuffles on, so
    AQE plans one exchange). Date arithmetic only — hash-exact.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("start"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("end"),
    )
    return (
        interval_islands(orders, "o_custkey", "start", "end", "o_orderkey")
        .groupBy("o_custkey", "island")
        .agg(
            F.min("start").alias("valid_from"),
            F.max("end").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def interval_islands(
    df: DataFrame, key_col: str, start: str, end: str, tiebreak: str
) -> DataFrame:
    """Gaps-and-islands core shared by rel_merge_intervals and the
    property tests (so the test exercises the SHIPPED pipeline, not a
    re-implementation): running max of prior interval ends per key flags
    island starts; a running sum of flags numbers the islands. Both
    windows cluster on ``key_col`` — the same key any downstream agg
    shuffles on."""
    w = Window.partitionBy(key_col).orderBy(start, end, tiebreak)
    prev_max_end = F.max(end).over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = df.withColumn(
        "_new",
        (prev_max_end.isNull() | (F.col(start) > prev_max_end)).cast("int"),
    )
    island = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return flagged.withColumn("island", island)


def rel_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-purchase graph (parts sharing an
    order; same edge base as rel_pagerank_coparts) — the clustering-
    coefficient primitive behind community detection and graph-quality
    audits, and the third graph algorithm in the engine after connected
    components and PageRank.

    The distributed formulation is DEGREE-ORDERED edge-iterator: orient
    every undirected edge from its (degree, id)-smaller endpoint to the
    larger, build each node's sorted out-neighbor array once, then count
    |N+(u) ∩ N+(v)| per oriented edge with a codegen array intersect.
    Orientation bounds out-degrees at ~sqrt(edges) on any graph (the
    hub-explosion guard), and the adjacency-array form keeps the
    closure work INSIDE each edge row: the naive wedge-join alternative
    materializes and shuffles every wedge (measured 49M wedge rows and
    ~25 s at sf0.1 vs ~8 s for this plan — the arrays move the same
    information as packed payloads of an edges-sized join). Every step
    is an equi-join or hash agg; integer-only output.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .persist()
    )
    deg, per_edge = triangle_closure_counts(pairs)
    # Three independent scalars combined WITHOUT 1-row cross joins: tag
    # each population, union, one conditional agg (the rel_cascade_delete
    # pattern — keeps the blanket nested-loop guard meaningful).
    tagged = (
        deg.select(F.lit("n").alias("k"), F.lit(0).alias("n_closed"))
        .unionAll(pairs.select(F.lit("e").alias("k"), F.lit(0).alias("n_closed")))
        .unionAll(per_edge.select(F.lit("t").alias("k"), F.col("n_closed")))
    )
    return tagged.agg(
        F.count(F.when(F.col("k") == "n", 1)).alias("n_nodes"),
        F.count(F.when(F.col("k") == "e", 1)).alias("n_edges"),
        F.coalesce(
            F.sum(F.when(F.col("k") == "t", F.col("n_closed"))), F.lit(0)
        ).alias("n_triangles"),
    )


def triangle_closure_counts(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered triangle-count core shared by rel_triangle_count
    and the property tests (the test must exercise the SHIPPED
    orientation + adjacency-intersect pipeline, not a re-implementation).
    ``pairs``: distinct undirected (u, v) with u < v. Returns
    (per-node degree table, per-oriented-edge closed-wedge counts);
    sum(n_closed) is the triangle count.
    """
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = pairs.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).persist()
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    per_edge = (
        oriented.join(
            adj.select(F.col("src").alias("u_"), F.col("nbrs").alias("nu")),
            F.col("src") == F.col("u_"),
        )
        .join(
            # Inner join: a sink dst has no out-neighbors and closes
            # nothing, so dropping its edges changes no count.
            adj.select(F.col("src").alias("v_"), F.col("nbrs").alias("nv")),
            F.col("dst") == F.col("v_"),
        )
        .select(F.size(F.array_intersect("nu", "nv")).alias("n_closed"))
    )
    return deg, per_edge


def rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: maximize ``p_size``,
    minimize ``p_retailprice`` — keep every part not dominated by another
    (size >= AND price <=, strict in at least one). The multi-objective
    shortlist primitive (best tradeoff curve) no single ORDER BY gives.

    The naive formulation is an all-pairs dominance anti-join; this one
    exploits that one dimension has a SMALL DOMAIN: one hash agg to the
    per-size min price (<=50 groups at any scale), a window suffix-min
    over that tiny table for "cheapest among strictly larger sizes", and
    a broadcast semi-filter back onto the scan. A part survives iff it
    hits its size's min price AND beats every larger size's min. Total
    shuffled data: <=50 rows. Doubles are compared, never arithmetic'd —
    hash-exact.
    """
    part = load_table(spark, sf_dir, "part")
    return skyline_frontier(part, "p_size", "p_retailprice").select(
        "p_partkey", "p_size", "p_retailprice"
    )


def skyline_frontier(df: DataFrame, size_col: str, price_col: str) -> DataFrame:
    """Shared 2-D skyline core (max ``size_col``, min ``price_col``):
    returns the rows of ``df`` on the Pareto frontier. Exercised both by
    :func:`rel_skyline` and the all-pairs-dominance property test, so a
    regression in the formulation is caught against brute force."""
    per_size = df.groupBy(size_col).agg(F.min(price_col).alias("min_price"))
    w = Window.orderBy(F.col(size_col).desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = per_size.withColumn("min_price_larger", F.min("min_price").over(w))
    keep = frontier.filter(
        F.col("min_price_larger").isNull()
        | (F.col("min_price") < F.col("min_price_larger"))
    )
    return df.join(
        F.broadcast(keep.select(size_col, "min_price")), size_col
    ).filter(F.col(price_col) == F.col("min_price"))


def rel_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode: each brand's most frequent part type (count-desc,
    type-asc tiebreak) with its share of the brand — the categorical
    "most common value" statistic every profiler needs and SQL has no
    aggregate for.

    Count hash-agg first (map-side partials collapse the fact table to
    |brand x type| <= 150 rows before any exchange), then the ranking
    window runs on the TINY grouped table partitioned by the same key —
    never a window over raw rows. Share = int/int double division, one
    op, display-rounded.
    """
    part = load_table(spark, sf_dir, "part")
    counts = part.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("p_brand")
    rank = F.row_number().over(w.orderBy(F.col("n").desc(), "p_type"))
    share = F.col("n").cast("double") / F.col("n_brand").cast("double")
    return (
        counts.withColumn("n_brand", F.sum("n").over(w))
        .withColumn("rk", rank)
        .filter(F.col("rk") == 1)
        .select(
            "p_brand",
            F.col("p_type").alias("modal_type"),
            "n",
            "n_brand",
            display_round(share, 9).alias("mode_share"),
        )
    )


def rel_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the lineitem numeric measures
    (quantity, extendedprice, discount) as a tidy 3-row matrix — the
    feature-redundancy screen run before any model training.

    ONE aggregation pass computes every moment (n, Σx, Σx², Σxy for all
    pairs) — 10 sums in a single map-side-partial HashAggregate, never
    one pass per pair, and no `corr()` whose float accumulation is
    order-dependent: every sum is exact DECIMAL arithmetic
    (order-independent in any engine) cast to double once, and the
    closed-form corr = (nΣxy-ΣxΣy)/(√(nΣx²-Σx²)·√(nΣy²-Σy²)) is a fixed
    IEEE op sequence — bit-identical cross-engine, display-rounded at 9.
    The 1-row moment vector unpivots to 3 rows via stack (no joins).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast(_MONEY)
    p = F.col("l_extendedprice").cast(_MONEY)
    d = F.col("l_discount").cast(_MONEY)

    def s(col, name):  # exact decimal sum, surfaced as double
        return F.sum(col).cast("double").alias(name)

    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        s(q, "sq"), s(p, "sp"), s(d, "sd"),
        s(q * q, "sqq"), s(p * p, "spp"), s(d * d, "sdd"),
        s(q * p, "sqp"), s(q * d, "sqd"), s(p * d, "spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = n * F.col(sxy) - F.col(sx) * F.col(sy)
        den = F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx)) * F.sqrt(
            n * F.col(syy) - F.col(sy) * F.col(sy)
        )
        return display_round(num / den, 9)

    wide = m.select(
        corr("sqp", "sq", "sp", "sqq", "spp").alias("c_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("c_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("c_price_disc"),
    )
    return wide.selectExpr(
        "stack(3, "
        "'l_quantity', 'l_extendedprice', c_qty_price, "
        "'l_quantity', 'l_discount', c_qty_disc, "
        "'l_extendedprice', 'l_discount', c_price_disc"
        ") as (col_a, col_b, corr)"
    )


def rel_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table: orders banded into 10 equal-count spend tiers
    (decile 0 = highest totalprice) with each tier's fulfilled-rate lift
    over the base rate — the model-evaluation / campaign-targeting view.

    A global NTILE is a single-reducer sort at 100 TB; this is the
    two-pass histogram formulation instead: hash-agg orders into $100
    price buckets (bounded domain, map-side partial), cumulative-count
    the TINY bucket table descending (window over <=6k rows), assign
    each bucket the decile of its last row (documented bucket-granular
    boundary), broadcast the bucket->decile map back — the raw table is
    touched by scans and hash aggs only. Rates and lift are int/int
    double divisions in fixed order, display-rounded at 9.
    """
    orders = load_table(spark, sf_dir, "orders")
    bucketed = orders.select(
        F.floor(F.col("o_totalprice") / F.lit(100.0)).alias("bucket"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_f"),
        F.col("o_totalprice").cast(_MONEY).alias("price_d"),
    )
    hist = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_f").alias("n_f"),
        F.sum("price_d").alias("rev_d"),
    )
    w_cum = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    with_cum = hist.select(
        "bucket", "n", "n_f", "rev_d",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_all).alias("total_n"),
    )
    # Integer `div`, not float `/`: exact at decile boundaries.
    decile = F.least(
        F.lit(9).cast("bigint"), F.expr("((cum_n - 1) * 10) div total_n")
    ).cast("int")
    per_decile = (
        with_cum.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("n_f").alias("n_fulfilled"),
            F.sum("rev_d").cast("double").alias("revenue"),
        )
    )
    base_rate = F.sum("n_fulfilled").over(w_all).cast("double") / F.sum(
        "n_orders"
    ).over(w_all).cast("double")
    rate = F.col("n_fulfilled").cast("double") / F.col("n_orders").cast("double")
    return per_decile.select(
        "decile", "n_orders", "n_fulfilled", "revenue",
        display_round(rate, 9).alias("fulfilled_rate"),
        display_round(rate / base_rate, 9).alias("lift"),
    )


def rel_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth by order priority: the standard
    BI trend table (period totals + % change vs previous period).

    Revenue aggregates in exact DECIMAL (order-independent) through a
    map-side-partial hash agg; the lag window then runs on the tiny
    (month x priority) table partitioned by the same grouping column.
    Growth = (cur - prev) / prev on the two decimal-exact doubles, one
    fixed-order op pair, display-rounded at 9; the first month of each
    priority has no prior and reports NULL growth.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
            "o_orderpriority",
            F.col("o_totalprice").cast(_MONEY).alias("price_d"),
        )
        .groupBy("month", "o_orderpriority")
        .agg(
            F.sum("price_d").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("revenue").over(w)
    growth = (F.col("revenue") - prev) / prev
    return monthly.select(
        "month",
        "o_orderpriority",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        display_round(growth, 9).alias("mom_growth"),
    )


def rel_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the Delta/Iceberg upsert statement) as plain
    dataflow: target = BUILDING-segment customers, source = per-customer
    order totals; WHEN MATCHED AND n_orders >= 8 -> UPDATE balance +=
    total, WHEN MATCHED AND n_orders <= 5 -> DELETE, WHEN NOT MATCHED ->
    INSERT a backfilled row; unmatched target rows pass through. Output
    is the post-merge table plus the per-row action — the audit view a
    warehouse MERGE emits as its operation metrics.

    Plan is exactly what table formats execute under the statement: one
    hash agg collapses the source to per-key rows, then ONE full-outer
    shuffle join on the merge key drives all three WHEN branches as CASE
    — no per-branch scans, no second pass over the target. Balance math:
    source totals are exact DECIMAL sums cast once to double; the update
    is a single double add — deterministic given identical inputs, so
    the merged table hash-checks unrounded."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    t = cust.select(
        F.col("c_custkey").alias("key"), "c_name", "c_acctbal", F.lit(True).alias("in_t")
    )
    s = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("total_dec"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("key", F.col("total_dec").cast("double").alias("total"), "n_orders",
                F.lit(True).alias("in_s"))
    )
    j = (
        t.join(s, "key", "full_outer")
        .withColumn("in_t", F.coalesce("in_t", F.lit(False)))
        .withColumn("in_s", F.coalesce("in_s", F.lit(False)))
    )
    action = (
        F.when(F.col("in_t") & F.col("in_s") & (F.col("n_orders") >= 8), F.lit("updated"))
        .when(F.col("in_t") & F.col("in_s") & (F.col("n_orders") <= 5), F.lit("deleted"))
        .when(F.col("in_t"), F.lit("kept"))
        .otherwise(F.lit("inserted"))
    )
    return (
        j.withColumn("action", action)
        .filter(F.col("action") != "deleted")
        .select(
            F.col("key").alias("c_custkey"),
            F.coalesce("c_name", F.lit("(backfilled)")).alias("c_name"),
            F.when(F.col("action") == "updated", F.col("c_acctbal") + F.col("total"))
            .when(F.col("action") == "inserted", F.col("total"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            "action",
        )
    )


def rel_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: the events
    ``props`` JSON is parsed ONCE per row into a variant
    (``parse_json`` — a binary shredded encoding, not a string), then
    fields come out via typed ``variant_get`` / ``try_variant_get``
    paths. Versus per-field ``get_json_object`` (which re-parses the
    string for every extraction — the rel_json_funcs surface), variant
    parse cost is paid once however many paths are read, which is the
    difference that matters on a wide telemetry payload at 100 TB.

    Exercised surface: int and string typed gets of the same path
    (``$.k``), a ``try_variant_get`` of a missing path (NULL, counted),
    and an aggregation proving the typed values flow into ordinary
    exact arithmetic. The oracle extracts the same paths with DuckDB's
    JSON operators — values (not the encoding) are the contract.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    shredded = ev.select(
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_int"),
    )
    return (
        shredded.groupBy((F.col("k_int") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k_int").alias("sum_k"),
            F.max("k_str").alias("max_k_str"),
            F.sum(F.col("missing_int").isNull().cast("long")).alias("n_missing"),
        )
        .orderBy("k_mod")
    )


def rel_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot regression diff — the audit every nightly rebuild runs
    before promoting a recomputed table over yesterday's: how many rows
    were added, removed, silently changed, or untouched between two
    snapshots of the keyed ``orders`` table, with a per-class key
    checksum so two engines must agree on WHICH rows, not just how many.

    The two snapshots are carved deterministically from the one orders
    table: A = everything before 1998; B = a retention-purged, refreshed
    copy (1996-1998 inclusive) where a 5% md5-bucket of keys had a
    repricing applied — the added/removed classes come from the window
    shift, the changed class from the repricing, so all four classes are
    populated and the classification logic is fully exercised.

    Plan: one full-outer sort-merge join on the key
    (operators.changelog.snapshot_diff — value columns compared natively
    via ``<=>``, never through serialized checksum strings) + one 4-group
    hash agg. key_sum is an exact integer checksum of the affected key
    set. Scale: single key-shuffle per side, AQE-skew-splittable; with
    key-bucketed snapshot layouts the exchange co-locates for free.
    """
    from ..operators.changelog import snapshot_diff
    from ..operators.text import hash_bucket_100

    orders = load_table(spark, sf_dir, "orders")
    snap_a = orders.filter(F.col("o_orderdate") < "1998-01-01")
    repriced = hash_bucket_100(F.col("o_orderkey")) < 5
    snap_b = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    ).select(
        "o_orderkey",
        "o_custkey",
        F.when(repriced, F.lit("R")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(repriced, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    diff = snapshot_diff(
        snap_a,
        snap_b,
        key_cols=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("change_type")
    )


def rel_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``, the iterative-plan
    operator class the reference has no counterpart for): conditional BFS
    down the customer decimal-digit hierarchy. parent(c) = floor(c/10)
    turns the key space into a 10-ary tree (the org-chart stand-in);
    starting from the single-digit roots, the walk follows a child edge
    only while account balance strictly DECREASES along the path — a
    data-dependent reachability predicate, so the result is a real graph
    traversal, not digit arithmetic. Output: per-depth reachable-customer
    count + exact balance sum.

    Plan: Catalyst compiles the recursion to UnionLoop — one hash
    equi-join of the (shrinking) frontier against the customer scan per
    level, O(log10 N) levels, no global state on the driver. At 100 TB
    that is ~8 bounded self-joins, each AQE-sized; the frontier only
    shrinks (the descending-balance predicate prunes), so per-level cost
    falls. depth < 8 is a belt on top of natural termination (the tree
    has no cycles). Exactness: counts are integers and the balance sum
    runs in DECIMAL(12,2) before the final double cast (house policy).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        WITH RECURSIVE walk(custkey, acctbal, depth) AS (
          SELECT c_custkey, c_acctbal, 0
          FROM customer_v WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, c.c_acctbal, w.depth + 1
          FROM walk w
          JOIN customer_v c
            ON CAST(floor(c.c_custkey / 10) AS BIGINT) = w.custkey
          WHERE c.c_acctbal < w.acctbal AND w.depth < 8
        )
        SELECT depth, count(*) AS n_customers,
               CAST(sum(CAST(acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        FROM walk GROUP BY depth ORDER BY depth
        """
    )


def rel_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table (SQL:1999 lateral join): for each
    region, the top-3 customers by account balance across that region's
    nations — the "per-outer-row subquery with ORDER BY .. LIMIT" shape
    that plain joins cannot express and rel_topk_per_group writes
    manually as a window.

    Plan: Catalyst DECORRELATES the lateral subquery — the per-region
    top-3 becomes WindowGroupLimit (per-partition top-k heaps, partial
    then final, no global sort) + one broadcast hash join back to the
    5-row region side; the nation dim also broadcasts. No nested loop,
    no per-outer-row re-execution: at 100 TB the customer side is
    scanned ONCE. Tie-break on c_custkey makes the limit deterministic.
    """
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT r.r_name, x.c_custkey, x.c_name, x.c_acctbal
        FROM region_v r,
        LATERAL (
          SELECT c.c_custkey, c.c_name, c.c_acctbal
          FROM customer_v c JOIN nation_v n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 3
        ) AS x
        """
    )


def rel_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the customer-distribution query: how many
    customers placed exactly N qualifying orders, INCLUDING the
    zero-order customers a plain inner join silently drops (the classic
    left-outer + double-aggregation pattern; here the qualifying filter
    is non-urgent priorities, standing in for Q13's comment NOT LIKE).

    Plan: NOT the naive customer⟕orders row join. Orders pre-aggregate
    to (custkey, n) FIRST — one map-side-combining hash agg collapses
    the fact table to at most |customers| rows — and only that collapsed
    table outer-joins customer; zero-order customers surface via
    coalesce(n, 0). At 100 TB the join's shuffle moves per-customer
    counts, never order rows, and the final histogram agg is ≤ max-order
    -count rows. The oracle is the NAIVE left-join formulation, so the
    rewrite's zero-inclusion semantics are hash-proven equivalent.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = cust.join(per_cust, "c_custkey", "left").select(
        "c_custkey", F.coalesce(F.col("n"), F.lit(0)).alias("c_count")
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_BLOOM_WORDS = 64
_BLOOM_BITS_PER_WORD = 63  # bit 63 never used: DuckDB errors on 1<<63
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BITS_PER_WORD  # 4032 bits


def _bloom_hashes(keycol: F.Column) -> tuple[F.Column, F.Column]:
    """Two md5-derived bit positions in [0, M) for a key (k=2 Bloom
    probes via the Kirsch–Mitzenmacher h1 + i*h2 construction). Both
    halves of one md5 — engine-portable, no xxhash."""
    s = F.md5(F.concat(keycol.cast("string"), F.lit("#bloom")))
    h1 = F.conv(F.substring(s, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(s, 9, 8), 16, 10).cast("long")
    return F.pmod(h1, F.lit(_BLOOM_M)), F.pmod(h1 + h2, F.lit(_BLOOM_M))


def _bloom_mask(bcol: str) -> F.Column:
    """1L << (bit % 63) — the in-word mask for a bit position column."""
    return F.expr(
        f"shiftleft(cast(1 as bigint), cast({bcol} % {_BLOOM_BITS_PER_WORD} as int))"
    )


def bloom_build_aggs() -> list:
    """The Bloom-filter build as aggregate columns over (b0, b1) bit
    positions: a key count plus 64 per-word ``bit_or`` folds. Every
    column is a commutative monoid (count: +, words: |), so partials
    built over ANY slicing of the key stream merge to the exact same
    filter — the property the streaming twin
    (streaming.jobs.bloom_ingest_stream) rides. The 64 word aggregates
    compile via ONE SQL parse each instead of ~8 stacked Column calls
    each (the sim_ann_ivfpq py4j-construction lesson: measured ~2.2 s
    of the query's 3.7 s was building this expression tree through
    py4j round-trips)."""

    def word_contrib(bcol: str, w: int) -> str:
        bpw = _BLOOM_BITS_PER_WORD
        return (
            f"CASE WHEN cast({bcol} / {bpw} as int) = {w} THEN "
            f"shiftleft(cast(1 as bigint), cast({bcol} % {bpw} as int)) "
            f"ELSE cast(0 as bigint) END"
        )

    return [F.count(F.lit(1)).alias("n_dim_keys")] + [
        F.expr(f"bit_or({word_contrib('b0', w)} | {word_contrib('b1', w)})").alias(
            f"w{w}"
        )
        for w in range(_BLOOM_WORDS)
    ]


def bloom_finish(filt: DataFrame) -> DataFrame:
    """Fold the (n_dim_keys, w0..w63) filter row into the probe shape:
    (n_dim_keys, bloom array<long>, bits_set). NULL words (a build over
    zero keys, or an all-empty-partial merge) coalesce to 0."""
    all_words = ", ".join(f"coalesce(w{w}, cast(0 as bigint))" for w in range(_BLOOM_WORDS))
    return filt.select(
        "n_dim_keys",
        F.expr(f"array({all_words})").alias("bloom"),
        F.expr(
            " + ".join(
                f"cast(bit_count(coalesce(w{w}, cast(0 as bigint))) as bigint)"
                for w in range(_BLOOM_WORDS)
            )
        ).alias("bits_set"),
    )


def rel_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join — the engine-level pattern behind
    Spark's runtime row-group filtering / dynamic partition pruning,
    expressed by hand so its cost model is inspectable: build a 4032-bit
    Bloom filter (64 words x 63 bits, k=2 md5 probes) over the BUILDING-
    segment customer keys as ONE aggregation row, broadcast it, and
    pre-filter the orders scan with pure bitwise arithmetic BEFORE the
    exact semi-join. Output is the one-row effectiveness report:
    (n_dim_keys, bits_set, n_orders, n_bloom_pass, n_matched,
    n_false_positives, fp_rate) — the numbers that decide whether a
    runtime filter is worth shipping for a given dim selectivity.

    Scale story: the filter is O(words) state independent of fact size;
    the pre-filter is a stateless scan expression (no shuffle, no join)
    that discards ~(1-fill²) of the fact table BEFORE the shuffle
    semi-join — at 100 TB that is the difference between shuffling the
    full fact table and shuffling ~|matches| + FP rows. Bloom guarantees
    no false negatives (every true match passes), so the prefiltered
    semi-join equals the direct one; false positives are removed by the
    exact join and REPORTED here. All hashing is md5-derived and the
    word arithmetic avoids bit 63, so DuckDB replays the filter build,
    the bitwise membership test, and the report — hash-checked.
    """
    cust_keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    b0, b1 = _bloom_hashes(F.col("c_custkey"))
    dimbits = cust_keys.select(b0.alias("b0"), b1.alias("b1"))

    filt = dimbits.agg(*bloom_build_aggs())
    bloom = bloom_finish(filt)
    q0, q1 = _bloom_hashes(F.col("o_custkey"))
    probe = load_table(spark, sf_dir, "orders").select(
        "o_custkey", q0.alias("b0"), q1.alias("b1")
    )

    def member(bcol: str) -> F.Column:
        word = F.element_at(
            F.col("bloom"), (F.col(bcol) / _BLOOM_BITS_PER_WORD).cast("int") + 1
        )
        return word.bitwiseAND(_bloom_mask(bcol)) != 0

    tagged = probe.crossJoin(F.broadcast(bloom))  # 1-row filter broadcast
    passed = tagged.filter(member("b0") & member("b1"))
    marked = passed.join(
        cust_keys.select(
            F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("_in")
        ),
        "o_custkey",
        "left",
    )
    n_orders = probe.agg(F.count(F.lit(1)).alias("n_orders"))
    rep = marked.groupBy("n_dim_keys", "bits_set").agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("_in"), F.lit(0))).alias("n_matched"),
    )
    n_fp = F.col("n_bloom_pass") - F.col("n_matched")
    return rep.crossJoin(F.broadcast(n_orders)).select(
        "n_dim_keys",
        "bits_set",
        "n_orders",
        "n_bloom_pass",
        "n_matched",
        n_fp.alias("n_false_positives"),
        display_round(
            n_fp.cast("double")
            / F.nullif(
                (F.col("n_orders") - F.col("n_matched")).cast("double"), F.lit(0.0)
            ),
            9,
        ).alias("fp_rate"),
    )


def rel_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from per-key count vectors — the
    cost-based-optimizer statistic that sizes a shuffle BEFORE paying
    for it: |A ⋈_k B| = Σ_k n_A(k)·n_B(k). Computed exactly from two
    group-by count tables (key-cardinality-sized, not row-sized) joined
    on the key — each fact table is scanned once and the fact tables
    themselves are never joined to estimate. The report also runs the
    actual orders⋈lineitem count as the in-band VERIFICATION leg
    (est == actual is a theorem for full count vectors, unlike the
    sampled/sketched estimators this calibrates) — at 100 TB you ship
    the estimate and drop the verification leg; here it is the proof.

    Output (one row): n_left, n_right, n_join_keys, est_join_rows,
    actual_join_rows, fanout (est/n_left, floor-latticed to 9 dec).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    co = orders.groupBy("k").agg(F.count(F.lit(1)).alias("n_a"))
    cl = li.groupBy("k").agg(F.count(F.lit(1)).alias("n_b"))
    est = co.join(cl, "k").agg(
        F.count(F.lit(1)).alias("n_join_keys"),
        F.sum(F.col("n_a") * F.col("n_b")).alias("est_join_rows"),
    )
    n_left = orders.agg(F.count(F.lit(1)).alias("n_left"))
    n_right = li.agg(F.count(F.lit(1)).alias("n_right"))
    actual = orders.join(li, "k").agg(F.count(F.lit(1)).alias("actual_join_rows"))
    return (
        est.crossJoin(F.broadcast(n_left))
        .crossJoin(F.broadcast(n_right))
        .crossJoin(F.broadcast(actual))
        .select(
            "n_left",
            "n_right",
            "n_join_keys",
            "est_join_rows",
            "actual_join_rows",
            display_round(
                F.col("est_join_rows").cast("double")
                / F.nullif(F.col("n_left").cast("double"), F.lit(0.0)),
                9,
            ).alias("fanout"),
        )
    )


def observe_metrics_plan(spark: SparkSession, sf_dir: str):
    """The REAL corpus-width plan :func:`rel_observe_metrics` executes —
    the observed scan plus the per-status aggregate — returned unexecuted
    as ``(agg_df, Observation)``. Split out so the plan guards can
    inspect it directly (ADVICE r14 #3: the registry-visible frame is
    the bounded local report, whose trivial plan would hide a regression
    in this one; tests/test_profiling.py runs assert_scale_safe + the
    Python-stage census against THIS plan)."""
    from ..streaming.metrics import observed

    orders = load_table(spark, sf_dir, "orders")
    src, obs = observed(
        orders,
        "dq",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_custkey": F.sum(
                F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
            ),
            "n_bad_status": F.sum(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
            ),
            "n_urgent": F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ),
            "sum_total": F.sum(F.col("o_totalprice").cast(_MONEY)).cast("double"),
        },
    )
    agg = src.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice").alias("revenue"),
    )
    return agg, obs


def rel_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-metrics instrumentation via ``Dataset.observe`` (r14,
    VERDICT r13 #2b): a per-status revenue summary whose data-quality
    counters — rows scanned, NULL customer keys, domain-violating statuses,
    urgent-priority count, total revenue — ride the SAME single scan as
    accumulator-style observed metrics (``streaming.metrics.observed``,
    the batch ``Observation`` leg), never a second pass over the source.
    That is the 100 TB shape: a quality gate that re-aggregates the
    corpus to audit a query doubles its cost; ``observe`` attaches the
    audit to the query's own one pass for free.

    The builder therefore EXECUTES the observed plan (observe's
    contract: metric values exist only after exactly one action) and
    returns the combined report as a long-format local frame — section
    'revenue'/'n_orders' rows per order status (the query results) plus
    one 'observed' row per metric. Everything is exact arithmetic
    (counts; DECIMAL(12,2) money sums cast to double at the end), so
    the oracle replays the observed values as ordinary aggregates and
    the hash check proves the accumulator path equals re-aggregation.
    The returned plan is a bounded local scan (O(statuses + metrics)
    rows); the corpus-width work already happened inside the one
    observed action.
    """
    from ..streaming.metrics import observation_row

    agg, obs = observe_metrics_plan(spark, sf_dir)
    result_rows = agg.collect()  # the ONE action — metrics ride this scan
    metrics = observation_row(obs)
    rows = [
        ("revenue", r["o_orderstatus"], float(r["revenue"]))
        for r in result_rows
    ]
    rows += [
        ("n_orders", r["o_orderstatus"], float(r["n_orders"]))
        for r in result_rows
    ]
    # A None metric (sum over zero rows) stays None: the oracle's sum()
    # emits NULL there too, and substituting 0.0 would silently change
    # the report's semantics on an empty source (ADVICE r14 #5). The
    # value column is nullable, so the schemas still agree.
    rows += [
        ("observed", k, None if metrics[k] is None else float(metrics[k]))
        for k in sorted(metrics)
    ]
    return spark.createDataFrame(rows, "section string, key string, value double")


QUERIES = {
    "rel_bloom_semi_join": rel_bloom_semi_join,
    "rel_observe_metrics": rel_observe_metrics,
    "rel_join_size_estimate": rel_join_size_estimate,
    "rel_variant_extract": rel_variant_extract,
    "rel_snapshot_diff": rel_snapshot_diff,
    "rel_recursive_cte": rel_recursive_cte,
    "rel_lateral_topk": rel_lateral_topk,
    "rel_order_count_histogram": rel_order_count_histogram,
    "rel_merge_into": rel_merge_into,
    "rel_time_range_frame": rel_time_range_frame,
    "rel_skyline": rel_skyline,
    "rel_mode_per_group": rel_mode_per_group,
    "rel_corr_matrix": rel_corr_matrix,
    "rel_decile_lift": rel_decile_lift,
    "rel_mom_growth": rel_mom_growth,
    "rel_disjunctive_filter": rel_disjunctive_filter,
    "rel_map_funcs": rel_map_funcs,
    "rel_pagerank_coparts": rel_pagerank_coparts,
    "rel_triangle_count": rel_triangle_count,
    "rel_merge_intervals": rel_merge_intervals,
    "rel_hll_daily_users": rel_hll_daily_users,
    "rel_theta_sketch_setops": rel_theta_sketch_setops,
    "rel_sketch_rollup": rel_sketch_rollup,
    "rel_scd2_asof_lookup": rel_scd2_asof_lookup,
    "rel_pit_features": rel_pit_features,
    "rel_cohort_retention": rel_cohort_retention,
    "rel_cdc_merge": rel_cdc_merge,
    "rel_scd2_intervals": rel_scd2_intervals,
    "rel_fuzzy_join": rel_fuzzy_join,
    "rel_entity_resolution": rel_entity_resolution,
    "rel_winsorize": rel_winsorize,
    "rel_mad_outliers": rel_mad_outliers,
    "rel_pricing_summary": rel_pricing_summary,
    "rel_join_customer_orders": rel_join_customer_orders,
    "rel_multiway_revenue": rel_multiway_revenue,
    "rel_join_left_outer": rel_join_left_outer,
    "rel_join_semi": rel_join_semi,
    "rel_join_anti": rel_join_anti,
    "rel_join_full_outer": rel_join_full_outer,
    "rel_topk_per_group": rel_topk_per_group,
    "rel_window_running": rel_window_running,
    "rel_window_frames": rel_window_frames,
    "rel_rollup": rel_rollup,
    "rel_grouping_sets": rel_grouping_sets,
    "rel_asof_join": rel_asof_join,
    "rel_salted_join": rel_salted_join,
    "rel_range_join": rel_range_join,
    "rel_sql_subqueries": rel_sql_subqueries,
    "rel_approx_distinct": rel_approx_distinct,
    "rel_percentile": rel_percentile,
    "rel_approx_percentile": rel_approx_percentile,
    # --- tail: trivial/stock-SQL surface, proven green in round 1 ---
    "rel_pivot": rel_pivot,
    "rel_unpivot": rel_unpivot,
    "rel_cube": rel_cube,
    "rel_agg_stats": rel_agg_stats,
    "rel_count_distinct": rel_count_distinct,
    "rel_cross_join": rel_cross_join,
    "rel_set_ops": rel_set_ops,
    "rel_distinct": rel_distinct,
    "rel_orderby_limit": rel_orderby_limit,
    "rel_having": rel_having,
    "rel_string_funcs": rel_string_funcs,
    "rel_date_funcs": rel_date_funcs,
    "rel_math_funcs": rel_math_funcs,
    "rel_conditional_funcs": rel_conditional_funcs,
    "rel_json_funcs": rel_json_funcs,
    "rel_array_funcs": rel_array_funcs,
}

ORACLES = {
    # rel_observe_metrics: the observed accumulator values must equal
    # plain re-aggregation — that equality IS what the hash check proves.
    "rel_observe_metrics": """
SELECT 'revenue' AS section, o_orderstatus AS key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS value
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'n_orders', o_orderstatus, CAST(count(*) AS DOUBLE)
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'observed', 'n_rows', CAST(count(*) AS DOUBLE) FROM orders
UNION ALL
SELECT 'observed', 'n_null_custkey',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'observed', 'n_bad_status',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'observed', 'n_urgent',
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'observed', 'sum_total',
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
FROM orders
""",
    "rel_join_size_estimate": """
WITH co AS (SELECT o_orderkey AS k, count(*) AS n_a FROM orders GROUP BY 1),
cl AS (SELECT l_orderkey AS k, count(*) AS n_b FROM lineitem GROUP BY 1),
est AS (
  SELECT CAST(count(*) AS BIGINT) AS n_join_keys,
         CAST(sum(n_a * n_b) AS BIGINT) AS est_join_rows
  FROM co JOIN cl USING (k)
),
nl AS (SELECT count(*) AS n_left FROM orders),
nr AS (SELECT count(*) AS n_right FROM lineitem),
act AS (
  SELECT CAST(count(*) AS BIGINT) AS actual_join_rows
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       n_join_keys, est_join_rows, actual_join_rows,
       floor(CAST(est_join_rows AS DOUBLE) / nullif(CAST(n_left AS DOUBLE), 0)
             * 1e9 + 0.5) / 1e9 AS fanout
FROM est CROSS JOIN nl CROSS JOIN nr CROSS JOIN act
""",
    "rel_bloom_semi_join": f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
dh AS (
  SELECT
    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || '#bloom'), 1, 8)) AS BIGINT) AS h1,
    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || '#bloom'), 9, 8)) AS BIGINT) AS h2
  FROM dim
),
bits AS (
  SELECT h1 % {_BLOOM_M} AS b FROM dh
  UNION ALL SELECT (h1 + h2) % {_BLOOM_M} FROM dh
),
words AS (
  SELECT CAST(b // {_BLOOM_BITS_PER_WORD} AS INTEGER) AS wi,
         bit_or(CAST(1 AS BIGINT) << CAST(b % {_BLOOM_BITS_PER_WORD} AS INTEGER)) AS w
  FROM bits GROUP BY 1
),
bloom AS (
  SELECT list(coalesce(w.w, CAST(0 AS BIGINT)) ORDER BY r.wi) AS bl,
         CAST(coalesce(sum(bit_count(w.w)), 0) AS BIGINT) AS bits_set
  FROM (SELECT unnest(range({_BLOOM_WORDS})) AS wi) r
  LEFT JOIN words w ON r.wi = w.wi
),
oh AS (
  SELECT o_custkey,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR) || '#bloom'), 1, 8)) AS BIGINT) AS h1,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR) || '#bloom'), 9, 8)) AS BIGINT) AS h2
  FROM orders
),
op AS (
  SELECT o_custkey, h1 % {_BLOOM_M} AS b0, (h1 + h2) % {_BLOOM_M} AS b1 FROM oh
),
pass AS (
  SELECT o_custkey FROM op CROSS JOIN bloom
  WHERE (bl[CAST(b0 // {_BLOOM_BITS_PER_WORD} AS INTEGER) + 1]
         & (CAST(1 AS BIGINT) << CAST(b0 % {_BLOOM_BITS_PER_WORD} AS INTEGER))) <> 0
    AND (bl[CAST(b1 // {_BLOOM_BITS_PER_WORD} AS INTEGER) + 1]
         & (CAST(1 AS BIGINT) << CAST(b1 % {_BLOOM_BITS_PER_WORD} AS INTEGER))) <> 0
),
m AS (
  SELECT CASE WHEN d.c_custkey IS NULL THEN 0 ELSE 1 END AS hit
  FROM pass p LEFT JOIN dim d ON p.o_custkey = d.c_custkey
),
tot AS (SELECT count(*) AS n_orders FROM orders),
dimn AS (SELECT count(*) AS n_dim_keys FROM dim)
SELECT CAST(n_dim_keys AS BIGINT) AS n_dim_keys,
       bits_set,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_bloom_pass,
       CAST(sum(hit) AS BIGINT) AS n_matched,
       CAST(count(*) - sum(hit) AS BIGINT) AS n_false_positives,
       floor(CAST(count(*) - sum(hit) AS DOUBLE)
             / nullif(CAST(n_orders - sum(hit) AS DOUBLE), 0) * 1e9 + 0.5) / 1e9
         AS fp_rate
FROM m CROSS JOIN tot CROSS JOIN dimn CROSS JOIN bloom
GROUP BY n_dim_keys, bits_set, n_orders
""",
    "rel_variant_extract": """
WITH s AS (
  SELECT CAST(props->>'k' AS BIGINT) AS k_int,
         props->>'k' AS k_str,
         CAST(props->>'missing' AS BIGINT) AS missing_int
  FROM events
)
SELECT k_int % 10 AS k_mod,
       count(*) AS n_events,
       CAST(sum(k_int) AS BIGINT) AS sum_k,
       max(k_str) AS max_k_str,
       CAST(sum(CASE WHEN missing_int IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing
FROM s GROUP BY k_int % 10 ORDER BY k_mod
""",
    "rel_snapshot_diff": """
WITH a AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
b AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN rp THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN rp THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM (
    SELECT *,
           CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 < 5 AS rp
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
  )
),
d AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE
           WHEN a.o_orderkey IS NULL THEN 'added'
           WHEN b.o_orderkey IS NULL THEN 'removed'
           WHEN a.o_custkey IS NOT DISTINCT FROM b.o_custkey
            AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
            AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
            AND a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
           THEN 'unchanged'
           ELSE 'changed'
         END AS change_type
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT change_type, count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM d GROUP BY change_type ORDER BY change_type
""",
    "rel_recursive_cte": """
WITH RECURSIVE walk(custkey, acctbal, depth) AS (
  SELECT c_custkey, c_acctbal, 0
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, c.c_acctbal, w.depth + 1
  FROM walk w
  JOIN customer c ON CAST(floor(c.c_custkey / 10) AS BIGINT) = w.custkey
  WHERE c.c_acctbal < w.acctbal AND w.depth < 8
)
SELECT depth, count(*) AS n_customers,
       CAST(sum(CAST(acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
FROM walk GROUP BY depth ORDER BY depth
""",
    "rel_lateral_topk": """
SELECT r.r_name, x.c_custkey, x.c_name, x.c_acctbal
FROM region r,
LATERAL (
  SELECT c.c_custkey, c.c_name, c.c_acctbal
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 3
) AS x
""",
    "rel_order_count_histogram": """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    "rel_merge_into": """
WITH t AS (
  SELECT c_custkey AS key, c_name, c_acctbal, TRUE AS in_t
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
s AS (
  SELECT o_custkey AS key,
         CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
         count(*) AS n_orders, TRUE AS in_s
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT coalesce(t.key, s.key) AS key, c_name, c_acctbal, total, n_orders,
         coalesce(in_t, FALSE) AS in_t, coalesce(in_s, FALSE) AS in_s
  FROM t FULL OUTER JOIN s ON t.key = s.key
),
a AS (
  SELECT *,
         CASE WHEN in_t AND in_s AND n_orders >= 8 THEN 'updated'
              WHEN in_t AND in_s AND n_orders <= 5 THEN 'deleted'
              WHEN in_t THEN 'kept'
              ELSE 'inserted' END AS action
  FROM j
)
SELECT key AS c_custkey,
       coalesce(c_name, '(backfilled)') AS c_name,
       CASE WHEN action = 'updated' THEN c_acctbal + total
            WHEN action = 'inserted' THEN total
            ELSE c_acctbal END AS acctbal,
       action
FROM a WHERE action <> 'deleted'
""",
    "rel_skyline": """
WITH per_size AS (
  SELECT p_size, min(p_retailprice) AS min_price
  FROM part GROUP BY p_size
),
frontier AS (
  SELECT p_size, min_price,
         min(min_price) OVER (ORDER BY p_size DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS min_price_larger
  FROM per_size
),
keep AS (
  SELECT p_size, min_price FROM frontier
  WHERE min_price_larger IS NULL OR min_price < min_price_larger
)
SELECT p.p_partkey, p.p_size, p.p_retailprice
FROM part p JOIN keep k ON p.p_size = k.p_size AND p.p_retailprice = k.min_price
""",
    "rel_mode_per_group": """
WITH counts AS (
  SELECT p_brand, p_type, count(*) AS n
  FROM part GROUP BY p_brand, p_type
),
ranked AS (
  SELECT p_brand, p_type, n,
         sum(n) OVER (PARTITION BY p_brand) AS n_brand,
         row_number() OVER (PARTITION BY p_brand ORDER BY n DESC, p_type) AS rk
  FROM counts
)
SELECT p_brand, p_type AS modal_type, n, CAST(n_brand AS BIGINT) AS n_brand,
       floor(CAST(n AS DOUBLE) / CAST(n_brand AS DOUBLE) * 1e9 + 0.5) / 1e9 AS mode_share
FROM ranked WHERE rk = 1
""",
    "rel_corr_matrix": """
WITH m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sq,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp,
    CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sd,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sqq,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS spp,
    CAST(sum(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sdd,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sqp,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sqd,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS spd
  FROM lineitem
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       floor((n * sqp - sq * sp) / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)) * 1e9 + 0.5) / 1e9 AS corr
FROM m
UNION ALL
SELECT 'l_quantity', 'l_discount',
       floor((n * sqd - sq * sd) / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)) * 1e9 + 0.5) / 1e9
FROM m
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       floor((n * spd - sp * sd) / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)) * 1e9 + 0.5) / 1e9
FROM m
""",
    "rel_decile_lift": """
WITH hist AS (
  SELECT CAST(floor(o_totalprice / 100.0) AS BIGINT) AS bucket,
         count(*) AS n,
         CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_d
  FROM orders GROUP BY 1
),
cum AS (
  SELECT bucket, n, n_f, rev_d,
         sum(n) OVER (ORDER BY bucket DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         sum(n) OVER () AS total_n
  FROM hist
),
assigned AS (
  SELECT *, CAST(least(9, ((cum_n - 1) * 10) // total_n) AS INTEGER) AS decile
  FROM cum
),
per_decile AS (
  SELECT decile, sum(n) AS n_orders, sum(n_f) AS n_fulfilled,
         CAST(sum(rev_d) AS DOUBLE) AS revenue
  FROM assigned GROUP BY decile
),
base AS (
  SELECT CAST(sum(n_fulfilled) AS DOUBLE) / CAST(sum(n_orders) AS DOUBLE) AS base_rate
  FROM per_decile
)
SELECT decile, CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_fulfilled AS BIGINT) AS n_fulfilled, revenue,
       floor(CAST(n_fulfilled AS DOUBLE) / CAST(n_orders AS DOUBLE) * 1e9 + 0.5) / 1e9 AS fulfilled_rate,
       floor(CAST(n_fulfilled AS DOUBLE) / CAST(n_orders AS DOUBLE) / base_rate * 1e9 + 0.5) / 1e9 AS lift
FROM per_decile, base
""",
    "rel_mom_growth": """
WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT month, o_orderpriority, revenue, n_orders,
       lag(revenue) OVER w AS prev_revenue,
       floor((revenue - lag(revenue) OVER w) / lag(revenue) OVER w * 1e9 + 0.5) / 1e9
         AS mom_growth
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
""",
    "rel_unpivot": """
SELECT p_partkey, 'p_retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
""",
    "rel_merge_intervals": """
WITH iv AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS e
  FROM orders
),
f AS (
  SELECT o_custkey, o_orderkey, s, e,
         CASE WHEN max(e) OVER (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
i AS (
  SELECT o_custkey, s, e,
         sum(new_island) OVER (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM f
)
SELECT o_custkey, CAST(island AS BIGINT) AS island,
       min(s) AS valid_from,
       CAST(max(e) AS DATE) AS valid_to,
       count(*) AS n_orders
FROM i GROUP BY o_custkey, island
""",
    "rel_triangle_count": """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
              THEN p.u ELSE p.v END AS src,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
              THEN p.v ELSE p.u END AS dst
  FROM pairs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v
),
w AS (
  SELECT e1.src AS x, e2.dst AS z
  FROM o e1 JOIN o e2 ON e1.dst = e2.src
),
t AS (
  SELECT count(*) AS n_triangles FROM w JOIN o ON o.src = w.x AND o.dst = w.z
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM pairs) AS n_edges,
       n_triangles
FROM t
""",
    "rel_time_range_frame": """
SELECT o_custkey, o_orderkey,
       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
       count(*) OVER w AS n_orders_30d,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS revenue_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
""",
    "rel_disjunctive_filter": """
SELECT count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
""",
    "rel_map_funcs": """
SELECT event_id,
       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
       array_to_string(json_keys(props), ',') AS keys_csv,
       CAST(props->>'k' AS INTEGER) AS k_val,
       list_contains(json_keys(props), 'k') AS has_k
FROM events
""",
    "rel_pagerank_coparts": _pagerank_sql(),
    "rel_scd2_asof_lookup": """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
  FROM flagged
),
agg AS (
  SELECT user_id, run, min(event_type) AS event_type, min(ts) AS valid_from
  FROM runs GROUP BY user_id, run
),
scd2 AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
  FROM agg
),
probes AS (
  SELECT u.user_id, g.ts AS probe_ts
  FROM (SELECT DISTINCT user_id FROM events) u,
       LATERAL unnest(generate_series(TIMESTAMP '2024-01-02 00:00:00',
                                      TIMESTAMP '2024-01-31 00:00:00',
                                      INTERVAL 1 DAY)) g(ts)
)
SELECT p.user_id, p.probe_ts, s.event_type
FROM probes p JOIN scd2 s
  ON p.user_id = s.user_id
 AND s.valid_from <= p.probe_ts
 AND (s.valid_to IS NULL OR p.probe_ts < s.valid_to)
""",
    "rel_pit_features": """
WITH spine AS (
  SELECT event_id, user_id, ts, value AS label_value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
views AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT s.event_id, s.user_id, s.ts, s.label_value,
       c.click_value AS f_click_value, c.ts AS f_click_ts,
       v.view_value AS f_view_value, v.ts AS f_view_ts
FROM spine s
ASOF LEFT JOIN clicks c ON s.user_id = c.user_id AND s.ts >= c.ts
ASOF LEFT JOIN views v ON s.user_id = v.user_id AND s.ts >= v.ts
""",
    "rel_cohort_retention": """
WITH o AS (
  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS ym FROM orders
),
firsts AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey),
cells AS (
  SELECT cohort_ym, ym - cohort_ym AS months_since,
         count(DISTINCT o.o_custkey) AS n_customers
  FROM o JOIN firsts USING (o_custkey)
  GROUP BY cohort_ym, ym - cohort_ym
)
SELECT CAST((cohort_ym - 1) // 12 AS INTEGER) || '-' ||
       lpad(CAST(((cohort_ym - 1) % 12) + 1 AS VARCHAR), 2, '0') AS cohort_month,
       CAST(months_since AS INTEGER) AS months_since,
       CAST(n_customers AS BIGINT) AS n_customers
FROM cells
""",
    "rel_cdc_merge": """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts, event_id, event_type, value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""",
    "rel_scd2_intervals": """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
  FROM flagged
),
agg AS (
  SELECT user_id, run, min(event_type) AS event_type,
         min(ts) AS valid_from, count(*) AS run_events
  FROM runs GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
       CAST(run_events AS BIGINT) AS run_events
FROM agg
""",
    "rel_fuzzy_join": """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS text_a, b.c_name AS text_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""",
    # Blocking replayed as a block-local join (never all-pairs), the
    # match graph closed with a recursive CTE (the dedup_clusters
    # pattern), survivorship with arg_min == Spark's min_by; exact
    # DECIMAL money sum cast to double at the end (the _dsum contract).
    "rel_entity_resolution": """
WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS u, b.c_custkey AS v
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
  SELECT c.c_custkey,
         CAST(COALESCE(least(m.mn, c.c_custkey), c.c_custkey) AS BIGINT)
           AS entity_id
  FROM customer c
  LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) m
    ON c.c_custkey = m.u
)
SELECT l.entity_id,
       CAST(count(*) AS BIGINT) AS n_members,
       arg_min(c.c_name, c.c_custkey) AS name,
       min(c.c_mktsegment) AS c_mktsegment,
       min(c.c_nationkey) AS c_nationkey,
       max(c.c_acctbal) AS max_acctbal,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM labels l JOIN customer c USING (c_custkey)
GROUP BY l.entity_id
""",
    "rel_asof_join": """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
errors AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, c.value, e.err_value, e.ts AS err_ts
FROM clicks c ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND c.ts >= e.ts
""",
    "rel_salted_join": """
SELECT o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    "rel_agg_stats": """
WITH g AS (
  SELECT event_type, count(*) AS n,
    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
    CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_sq,
    min(value) AS min_value, max(value) AS max_value
  FROM events GROUP BY event_type
)
SELECT event_type, n, sum_value,
  sum_value / n AS mean_value,
  (sum_sq - sum_value * sum_value / n) / (n - 1) AS var_value,
  sqrt((sum_sq - sum_value * sum_value / n) / (n - 1)) AS stddev_value,
  min_value, max_value
FROM g
""",
    "rel_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "rel_join_customer_orders": """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "rel_multiway_revenue": """
SELECT r_name, n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
    "rel_join_left_outer": """
SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    "rel_join_semi": """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
""",
    "rel_join_anti": """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    "rel_join_full_outer": """
WITH s AS (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1),
     c AS (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY 1)
SELECT coalesce(s_nationkey, c_nationkey) AS nationkey,
       coalesce(n_suppliers, 0) AS n_suppliers,
       coalesce(n_customers, 0) AS n_customers
FROM s FULL OUTER JOIN c ON s_nationkey = c_nationkey
""",
    "rel_cross_join": """
SELECT r_name, n_name, n_regionkey FROM region CROSS JOIN nation
""",
    "rel_topk_per_group": """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust
  FROM orders
) WHERE rank_in_cust <= 3
""",
    "rel_window_running": """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_spent,
  row_number() OVER w AS order_seq,
  lag(o_orderkey, 1) OVER w AS prev_orderkey,
  lead(o_orderkey, 1) OVER w AS next_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    "rel_set_ops": """
WITH o_cust AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
     f_cust AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT 'both' AS cohort, o_custkey FROM (SELECT * FROM o_cust INTERSECT SELECT * FROM f_cust)
UNION ALL
SELECT 'open_only' AS cohort, o_custkey FROM (SELECT * FROM o_cust EXCEPT SELECT * FROM f_cust)
""",
    "rel_distinct": """
SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
""",
    "rel_count_distinct": """
SELECT count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderstatus) AS n_statuses,
       count(*) AS n_orders
FROM orders
""",
    "rel_rollup": """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    "rel_cube": """
SELECT c_mktsegment, c_nationkey, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
""",
    "rel_pivot": """
SELECT c_mktsegment,
  coalesce(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS "O",
  coalesce(count(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS "F",
  coalesce(count(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS "P"
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "rel_orderby_limit": """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    "rel_having": """
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
FROM orders GROUP BY o_custkey HAVING count(*) >= 3
""",
    "rel_string_funcs": """
SELECT p_partkey,
  upper(p_name) AS name_upper,
  lower(p_brand) AS brand_lower,
  CAST(length(p_name) AS INTEGER) AS name_len,
  substr(p_type, 1, 5) AS type_prefix,
  concat_ws('|', p_brand, p_type) AS brand_type,
  replace(p_name, ' ', '_') AS name_snake,
  trim('  pad  ') AS trimmed,
  string_split(p_name, ' ')[1] AS first_word,
  contains(p_name, 'green') AS has_green,
  starts_with(p_type, 'STANDARD') AS is_standard
FROM part
""",
    "rel_date_funcs": """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  CAST(month(o_orderdate) AS INTEGER) AS order_month,
  CAST(day(o_orderdate) AS INTEGER) AS order_day,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  strftime(o_orderdate, '%H:%M:%S') AS order_time,
  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
  CAST(o_orderdate AS DATE) AS order_date
FROM orders
""",
    "rel_math_funcs": """
SELECT l_orderkey,
  abs(l_extendedprice - 3000.0) AS abs_dev,
  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
  sqrt(l_extendedprice) AS price_sqrt,
  l_orderkey % 7 AS key_mod7,
  CAST(sign(l_extendedprice - 3000.0) AS DOUBLE) AS dev_sign,
  l_extendedprice * l_extendedprice AS price_sq,
  greatest(l_extendedprice, 1000.0) AS price_floor1k,
  least(l_extendedprice, 5000.0) AS price_cap5k
FROM lineitem WHERE l_linenumber = 1
""",
    "rel_conditional_funcs": """
SELECT c_custkey,
  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_or_other,
  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal,
  c_acctbal < 0 AS is_negative,
  nullif(c_nationkey, 3) IS NULL AS is_nation3
FROM customer
""",
    "rel_mad_outliers": """
WITH m AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS med
  FROM events GROUP BY event_type
),
d AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS absdev
  FROM events e JOIN m USING (event_type)
),
s AS (
  SELECT event_type,
         floor(quantile_cont(absdev, 0.5) * 1e6 + 0.5) / 1e6 AS mad
  FROM d GROUP BY event_type
)
SELECT d.event_type, min(d.med) AS med, min(s.mad) AS mad,
  count(*) AS n_events,
  CAST(sum(CASE WHEN d.absdev > 3.0 * s.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  floor(CAST(sum(CASE WHEN d.absdev > 3.0 * s.mad THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS outlier_frac
FROM d JOIN s USING (event_type) GROUP BY d.event_type
""",
    "rel_winsorize": """
WITH b AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.05) * 1e6 + 0.5) / 1e6 AS p05,
         floor(quantile_cont(value, 0.95) * 1e6 + 0.5) / 1e6 AS p95
  FROM events GROUP BY event_type
),
c AS (
  SELECT e.event_type, e.value, b.p05, b.p95,
         least(greatest(e.value, b.p05), b.p95) AS w
  FROM events e JOIN b USING (event_type)
)
SELECT event_type, count(*) AS n,
  min(p05) AS p05, min(p95) AS p95,
  CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sum_wins,
  CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_wins,
  CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
  CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high
FROM c GROUP BY event_type
""",
    "rel_percentile": """
SELECT o_orderpriority,
  quantile_cont(o_totalprice, 0.25) AS p25,
  quantile_cont(o_totalprice, 0.5) AS p50,
  quantile_cont(o_totalprice, 0.75) AS p75,
  count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
    # Sketch accuracy reports (r10): the engine-specific estimates stay
    # out of the hash surface; the oracle replays the exact legs and
    # asserts the bound booleans are TRUE, so an out-of-band sketch is a
    # driver hash mismatch rather than a silent rows-only pass.
    "rel_approx_distinct": """
SELECT o_orderpriority,
  count(*) AS n_orders,
  count(DISTINCT o_custkey) AS exact_customers,
  TRUE AS hll_within_band
FROM orders GROUP BY o_orderpriority
""",
    "rel_approx_percentile": """
SELECT o_orderpriority,
  count(*) AS n_orders,
  TRUE AS rank_ok_p25,
  TRUE AS rank_ok_p50,
  TRUE AS rank_ok_p75
FROM orders GROUP BY o_orderpriority
""",
    "rel_hll_daily_users": """
SELECT strftime(ts, '%Y-%m-%d') AS day,
  count(DISTINCT user_id) AS exact_users,
  count(*) AS n_events,
  TRUE AS hll_within_band
FROM events GROUP BY 1
UNION ALL
SELECT 'ALL' AS day,
  count(DISTINCT user_id) AS exact_users,
  count(*) AS n_events,
  TRUE AS hll_within_band
FROM events
""",
    "rel_json_funcs": """
SELECT event_id,
  json_extract_string(props, '$.k') AS k_str,
  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_num,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
  CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 AS k_mod5,
  json_extract_string(props, '$.k') IS NOT NULL AS has_k
FROM events
""",
    "rel_window_frames": """
SELECT o_custkey, o_orderkey,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER f3 AS DOUBLE)
    / count(*) OVER f3 AS moving_avg3,
  first_value(o_orderkey) OVER wrun AS first_orderkey,
  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       f3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    "rel_range_join": """
WITH bands AS (
  SELECT p_partkey, p_retailprice * 0.9 AS lo, p_retailprice * 1.1 AS hi
  FROM part WHERE p_size = 50
)
SELECT p_partkey, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN bands ON l_extendedprice BETWEEN lo AND hi
GROUP BY p_partkey
""",
    "rel_grouping_sets": """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    "rel_sql_subqueries": """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                          / count(*) FROM customer)
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
    "rel_array_funcs": """
SELECT vec_id,
  CAST(len(embedding) AS INTEGER) AS n_dims,
  CAST(embedding[1] AS DOUBLE) AS first_dim,
  CAST(embedding[-1] AS DOUBLE) AS last_dim,
  CAST(list_max(embedding) AS DOUBLE) AS max_dim,
  CAST(list_min(embedding) AS DOUBLE) AS min_dim,
  CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
    + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE) AS sum_head4,
  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive
FROM embeddings
""",
}

ORACLES["rel_theta_sketch_setops"] = _theta_setops_oracle()
ORACLES["rel_sketch_rollup"] = _sketch_rollup_oracle()
