"""M3 relational catalog (SURVEY.md §2.5 / M3): joins, aggregations,
windows, sorts, set ops — the capability categories the reference only
has in degenerate form (its D2/D4 lookups are inlined broadcast joins,
/root/reference/task.ts:225-242, 266-276), generalized to the full
relational surface a Spark engine owes its users.

Scale rules applied throughout:
- small dims (region 5 rows, nation 25 rows) are ALWAYS broadcast —
  `F.broadcast()` pins the hint rather than trusting the size estimator
  on a 1000-executor cluster where stats may be stale;
- big-big joins shuffle on the join key and rely on AQE skew splitting;
- top-k per group is window `row_number() <= k`, never sort-all-rows;
- the as-of join is the union+ordered-window form (ONE shuffle/sort),
  not a per-row point-lookup join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.operators.llm_pipeline import (
    _duck_hll_agg,
    _duck_hll_est,
    _hll_finalize,
    _hll_ranks,
)
from etl_wlg_metlink_spark.tables import load, load_spread


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def r1_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join — the relational form of the reference's
    inlined enum decode (task.ts:266-276): customer → nation → region,
    customer count + balance per region name. nation/region are tiny;
    both sides of the dim chain broadcast, so the fact table never
    shuffles."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    dim = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )
    return (
        customer.join(dim, customer.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            # money accumulates in DECIMAL: the source doubles are exact
            # 2-decimal values, so the cast is lossless and the sum is
            # order-independent — a round(sum(double), 4) sits on a ulp
            # knife edge once groups reach ~10^5 rows (observed on r2
            # at sf0.1) and would differ run-to-run on a real cluster
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias(
                "sum_acctbal"
            ),
        )
    )


def r2_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner equi-join customer ⨝ orders ⨝ lineitem: revenue per
    market segment. Both joins shuffle on their keys; at 100 TB the
    orders⨝lineitem side dominates and AQE picks SMJ with skew
    splitting — no hints needed beyond declaring the equi keys."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_lines"),
            # exact decimal revenue: price and discount are 2-decimal
            # values stored as doubles; decimal arithmetic makes the
            # 10^5-term sum order-independent (the double form differed
            # from DuckDB by one ulp at sf0.1 — same would flicker
            # between runs on a cluster as partitioning shifts)
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("revenue"),
        )
    )


def r3_left_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders; per-segment
    totals where the null side contributes zero counts."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_orderkey").isNull().cast("long")).alias("n_orderless_rows"),
        )
    )


def r4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that placed at least one HIGH-ish
    priority order (existence check; no right-side columns, so Spark
    can stop at first match and never duplicates the left)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority").startswith("1"))
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def r5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all (the NOT EXISTS
    dual of r4)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def r6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: parts bucketed into size bands by a
    non-equi `BETWEEN` predicate against a tiny in-memory band table.
    The band side is broadcast, so the non-equi condition is evaluated
    map-side (BroadcastNestedLoopJoin over 4 rows) — never a shuffle."""
    part = load(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("tiny", 0, 9), ("small", 10, 24), ("medium", 25, 39), ("large", 40, 100)],
        "band string, lo int, hi int",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_size >= bands.lo) & (part.p_size <= bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


def r7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every 'purchase' event, the user's most recent
    'click' at-or-before the purchase time.

    Implemented as the scale-correct union + ordered-window form: tag
    both sides, sort once on (user_id, ts, side) and carry the last
    click forward with last(ignorenulls) — ONE shuffle and sort total,
    versus a per-row range lookup that Spark would otherwise plan as a
    broadcast-nested-loop. Clicks order before purchases at equal ts so
    the `>=` (inclusive) as-of semantics match DuckDB's ASOF JOIN.

    Tie-break: two clicks sharing (user_id, ts) are ordered by click_id,
    so the surviving as-of match is the MAX click_id at the matched
    timestamp — the oracle pre-collapses equal-ts clicks with
    MAX(event_id) because ASOF JOIN itself leaves the pick undefined."""
    events = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "click_id", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .where(F.col("side") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.round("purchase_value", 4).alias("purchase_value"),
            "last_click_id",
        )
    )


# --------------------------------------------------------------------------
# Aggregations: rollup / cube / grouping sets / distinct
# --------------------------------------------------------------------------

def r8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (l_returnflag, l_linestatus): subtotal hierarchy in
    one pass (Catalyst expands to grouping sets, still a single
    hash-agg shuffle with map-side partials)."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


def r9_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (o_orderstatus, o_orderpriority): all 4 grouping
    combinations, plus grouping_id to disambiguate real NULLs from
    subtotal rows."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        # decimal: the grand-total cell sums EVERY order — the largest
        # float-sum group in the catalog; see r1 for the rationale
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_price"),
        F.grouping_id("o_orderstatus", "o_orderpriority").cast("long").alias("gid"),
    )


def r10_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (spark.sql), proving the
    catalog is reachable through plain ANSI SQL, not only the DataFrame
    DSL."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def r11_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (COUNT(DISTINCT ...)).
    The approximate HLL variant (approx_count_distinct) is the 100 TB
    path but is engine-specific, so the oracle-checked query is exact;
    see r12 for the approx variant as a rows-only check."""
    orders = load(spark, sf_dir, "orders")
    return orders.agg(
        F.count_distinct("o_custkey").alias("n_custkeys"),
        F.count_distinct("o_orderstatus", "o_orderpriority").alias("n_status_prio"),
        F.count("*").alias("n_rows"),
    )


#: r12's register exponent: 2^12 = 4096 registers (l95 runs p = 8).
R12_HLL_P = 12


def r12_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count via a PORTABLE HyperLogLog sketch —
    the sketch every 100 TB pipeline uses instead of exact distinct,
    built from engine-agnostic parts (md5-derived 60-bit hash, md5 is
    the repo-wide portability rule) so the ESTIMATE itself is
    bit-identical on both engines and gets a full value oracle —
    unlike approx_count_distinct, whose HLL++ registers are
    engine-private. The construction is l95_hll_cardinality's
    (`_hll_ranks`, `_hll_finalize`), run ungrouped at p = 12 over
    l_orderkey; this lane reports the global estimate only. The
    5%-of-exact accuracy check lives in pytest
    (tests/test_queries.py), NOT in the benched lane: the exact
    count_distinct it needs is an expand+shuffle over every row, and
    carrying it made r12 the slowest sf1 lane (24.2 s, VERDICT r10
    item 4) while the sketch path below never shuffles more than
    4096 rows.

    Shape: one narrow map (hash → register, rank), ONE 4096-group
    partial aggregation (map-side combine caps every task's output at
    m rows), one single-row final agg. The harmonic sum is an exact
    int64 (see `_hll_finalize`), so the only float ops are one
    division and the small-range linear-counting branch m·ln(m/V)
    (taken only when est ≤ 2.5m — sf0.001 territory).

    Cross-engine note on the ln (ADVICE r11): ln is not IEEE-mandated
    correctly rounded, so Spark's Math.log and DuckDB's libm log may
    differ by a few ulps — but the branch's inputs are only the 4096
    possible V values, and an exhaustive sweep (pinned by
    test_r12_linear_counting_no_boundary_values) shows every
    m·ln(m/V) sits ≥ 1.07e-4 (≈ 4.7e8 ulps, worst case V=2782) away
    from a floor(est+0.5) decision boundary; the m· scaling is an
    exact power-of-two multiply, so a sub-1000-ulp ln disagreement
    can never flip the reported estimate. The branch guard
    est_raw ≤ 2.5m divides exact operands once, so it is identical
    on both engines."""
    lineitem = load(spark, sf_dir, "lineitem")
    regs = (
        _hll_ranks(lineitem, "l_orderkey", [], R12_HLL_P)
        .groupBy("j")
        .agg(F.max("rank").alias("m_j"), F.count("*").alias("n"))
    )
    return _hll_finalize(regs, [], R12_HLL_P, F.sum("n").alias("n_rows")).select(
        "n_rows",
        (F.lit(1 << R12_HLL_P) - F.col("registers_hit")).alias("n_empty_buckets"),
        F.floor(F.col("est") + F.lit(0.5)).cast("long").alias("hll_estimate"),
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def r13_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number over per-nation balance ordering;
    top-3 per nation via rank<=k (the scale-safe top-k: no global
    sort, one shuffle on the partition key)."""
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.select(
            "c_custkey",
            "c_nationkey",
            F.round("c_acctbal", 4).alias("c_acctbal"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


def r14_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event timeline: per-event delta vs the
    previous value and the next event's type."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("delta_prev"),
        F.lead("event_type", 1).over(w).alias("next_type"),
    )


def r15_window_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate with an explicit ROWS frame: trailing-4 sum of
    value per user ordered by event time."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("trailing4_sum"),
    )


def r16_topk_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (top-25 orders by price). Spark plans
    TakeOrderedAndProject — per-partition heaps then a driver merge of
    25-row samples, NOT a full sort; exactly what you want at 100 TB."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def r17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT on key projections, tagged and
    re-unioned so one query exercises all three. Dedup'ing set ops
    shuffle on the full row; the projections are single-column so the
    exchange is narrow."""
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    both = customer.intersect(orders).select(F.lit("with_orders").alias("tag"), "k")
    only_cust = customer.exceptAll(orders.distinct()).select(
        F.lit("no_orders").alias("tag"), "k"
    )
    return (
        both.unionByName(only_cust)
        .groupBy("tag")
        .agg(F.count("*").alias("n"), F.count_distinct("k").alias("n_distinct"))
    )


def r18_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join — the manual skew weapon when AQE's runtime
    splitting isn't enough (e.g. one user owns 30% of a 100 TB fact
    table): the fact side gets a deterministic salt, the dim side is
    exploded ×R, and the join key becomes (user_id, salt) so the hot
    key spreads over R reducers. Results are salt-invariant, so the
    oracle is the plain join."""
    R = 8
    events = load(spark, sf_dir, "events")
    dim = (
        events.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 5).cast("long"))
    )
    salted_fact = events.withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(R)).cast("int")
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(R - 1)).cast("array<int>"))
    )
    return (
        salted_fact.join(salted_dim, ["user_id", "salt"])
        .groupBy("tier")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def r19_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface: orders
    priced above their customer's average order price. Catalyst
    decorrelates this into an aggregate + join — no per-row re-execution
    (the plan shows a single joined aggregate, which is why it scales)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_r19")
    return spark.sql(
        """
        SELECT o_custkey, COUNT(*) AS n_above
        FROM orders_r19 o
        WHERE o_totalprice > (
          SELECT AVG(o_totalprice) FROM orders_r19 i
          WHERE i.o_custkey = o.o_custkey
        )
        GROUP BY o_custkey
        """
    )


def r20_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate with a RANGE frame — value-based, not
    row-count-based (r15's ROWS twin): per user, the sum and count of
    events in the trailing 30 minutes of EVENT TIME. Rows sharing an
    order value are frame peers (all included), which is the semantic
    difference a ROWS frame can't express. Ordered on floor-epoch
    seconds so both engines agree on frame membership exactly; one
    shuffle on the partition key, per-key sort, same scale shape as
    every window lane."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-1800, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("trailing_30m_sum"),
        F.count("*").over(w).alias("n_in_30m"),
    )


#: r21 matched-filter pattern, oldest→newest coefficient order. A
#: down-up-down "spike" template; integer coefficients keep every
#: product one IEEE rounding on both engines so scores are
#: bit-identical without tolerance.
R21_PATTERN = (-1, -2, 3, 4, 3, -2, -1, 1)


def r21_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity as a matched filter: per
    user, slide an 8-step template over the event-value series (ordered
    by event time) and score each position by the dot product of the
    template with the trailing 8 values; return the global top-20
    matches. The streaming-data similarity-search shape (find where a
    known pattern occurs in a value stream) expressed entirely in
    window lag() expressions — no UDF, no self-join.

    Scale shape: one shuffle on user_id + per-key sort (every window
    lane's cost), the dot product is 8 lag terms fused into one
    codegen'd projection, and the global top-20 is
    TakeOrderedAndProject (per-partition heaps, never a full sort).
    Positions with fewer than 8 predecessors are excluded (no partial
    windows)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", i).over(w) for i in range(len(R21_PATTERN))]
    # lag(0) is the row itself; coefficient k applies to lag (K-1-k) so
    # the pattern reads oldest→newest across the trailing window
    score = sum(
        lags[len(R21_PATTERN) - 1 - k] * F.lit(p)
        for k, p in enumerate(R21_PATTERN)
    )
    scored = events.select(
        "user_id",
        "event_id",
        score.alias("score"),
        lags[len(R21_PATTERN) - 1].alias("oldest"),
    ).where(F.col("oldest").isNotNull() & F.col("score").isNotNull())
    return (
        scored.select("user_id", "event_id", F.round("score", 4).alias("score"))
        .orderBy(F.col("score").desc(), "event_id")
        .limit(20)
    )


#: r22 sparsity threshold: leaves exactly one empty month at both
#: sf0.001 and sf0.01 (79 of 80 populated), so the gap-fill is
#: observable in the checked result, not a no-op left join.
R22_BIG_ORDER = 430_000


def r22_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 `WITH RECURSIVE`) building a month
    calendar spine from the orders date range, then gap-filling a
    sparse monthly aggregate (orders above R22_BIG_ORDER) with zero
    rows — the classic time-series densification every reporting
    pipeline needs and pre-4.0 Spark could not express in SQL. The
    reference's scheduled poll is itself a time spine (task.ts:122);
    this is that idea as a query.

    Scale shape: the recursion materializes one row per month (bounded
    by the date span — thousands of rows at most, driver-safe by
    construction), the sparse aggregate is one hash-agg shuffle on
    month, and the spine side of the final join is broadcast-size by
    nature. Money sums accumulate in DECIMAL(18,2), not float. The
    recursion stop bound rides along as a carried column (mx) — a
    scalar subquery in the recursive member re-plans the orders
    aggregate EVERY iteration (measured 21s vs 1s for the 80-month
    span; at depth d that's d full table scans)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_r22")
    return spark.sql(
        f"""
        WITH RECURSIVE spine(m, mx) AS (
          SELECT date_trunc('MONTH', MIN(o_orderdate)),
                 date_trunc('MONTH', MAX(o_orderdate))
          FROM orders_r22
          UNION ALL
          SELECT m + INTERVAL '1' MONTH, mx FROM spine WHERE m < mx
        ),
        months AS (SELECT m FROM spine),
        big AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m,
                 COUNT(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
          FROM orders_r22
          WHERE o_totalprice > {R22_BIG_ORDER}
          GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS ym,
               COALESCE(big.n, 0) AS n_big,
               CAST(COALESCE(big.s, 0) AS DECIMAL(18,2)) AS sum_price
        FROM months LEFT JOIN big ON big.m = months.m
        """
    )


def r23_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window pack: ntile quartiles, percent_rank
    and cume_dist over customer account balance within each nation —
    the remaining ANSI rank family r13/r14 don't cover. Quartile
    bucketing by ntile is how balanced stratification is usually
    written; percent_rank/cume_dist are the plan-side form of an
    empirical CDF.

    Scale shape: one shuffle on the nation key + per-key sort, same as
    every partitioned window lane; no global ordering anywhere."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    # floor(x·10⁶ + 0.5)/10⁶ instead of round(x, 6): percent_rank is a
    # rational k/(n-1), and at sf1 some land EXACTLY on a half at the
    # 6th decimal (e.g. 0.0628125) — Spark's round is HALF_UP on the
    # shortest decimal repr while DuckDB rounds the binary double
    # (0.0628125d < the true half → down), so the two engines split
    # on every such row. The explicit floor formula is the same IEEE
    # double ops on both sides → bit-identical at any SF (both ∈
    # [0,1], so the negative-half caveat of floor-rounding is moot).
    def _r6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        _r6(F.percent_rank().over(w)).alias("pct_rank"),
        _r6(F.cume_dist().over(w)).alias("cume"),
    )


def r24_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped composite: segment-filtered customers ⨝ orders
    ⨝ lineitem, revenue per open order, top-10 — the classic
    multi-join analytics query a reference user would actually run,
    exercising filter pushdown on all three scans, join reordering,
    decimal-exact money aggregation and bounded top-k in one plan.

    Scale shape: both joins are key-equi shuffles Catalyst/AQE plans
    (customer is NOT hint-broadcast — at 100 TB the segment filter
    still leaves a fifth of a huge table; AQE may still pick BHJ at
    small SF, which is exactly the adaptivity wanted). Filters reach
    the parquet scans; the top-10 is TakeOrderedAndProject with
    deterministic tie-breaks; revenue accumulates in DECIMAL (the
    float-sum order trap r1/r2 document)."""
    cutoff = F.lit("1997-01-01").cast("timestamp")
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        # keep the EXACT scale-4 product sum: casting down to scale 2
        # rounds HALF_UP in Spark but HALF_EVEN in DuckDB - a one-cent
        # disagreement on any .xx5 sum (hit 3 times in the first 10 rows)
        .agg(F.sum(rev).cast("decimal(18,4)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _dec2(name: str):
    """Source doubles are exact 2-decimal money values — the cast is
    lossless and makes every downstream sum order-independent (the
    float-sum trap r1 documents)."""
    return F.col(name).cast("decimal(18,2)")


def _disc_price():
    """A lineitem's discounted price, extendedprice × (1 − discount),
    in exact DECIMAL(18,4) (r25, r26, r31, r33, r35, r36, r37). The
    product of two 2-decimal values is exact at 4 decimals, so the
    rebase is lossless, and it keeps r25's 3-factor charge product
    inside precision 38 (dec(18,2)³ would overflow and trigger Spark's
    lossy precision-loss rescale, which DuckDB does differently)."""
    return (_dec2("l_extendedprice") * (F.lit(1) - _dec2("l_discount"))).cast(
        "decimal(18,4)"
    )


def r25_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one full lineitem scan, eight
    aggregates per (returnflag, linestatus) — THE canonical scan-agg
    workload (the reference has no analytic agg at all; its only
    aggregation is the last-wins Map, task.ts:323-338).

    Scale shape: the most scan-bound query in the catalog — map-side
    partial aggregation collapses each input partition to ≤ a handful
    of (flag, status) groups before the (tiny) shuffle, so at 100 TB
    the cost is exactly one pass over lineitem with the shipdate
    filter and 7-column pruning pushed to parquet. All money sums
    accumulate in DECIMAL (exact, order-independent); the averages are
    one IEEE double division each at the very end, identical in both
    engines. The scan goes through load_spread so the decimal partial
    aggregation uses every core."""
    li = load_spread(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp")
    )
    disc_price = _disc_price()
    charge = disc_price * (F.lit(1) + _dec2("l_tax"))
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2("l_quantity")).cast("decimal(18,2)").alias("sum_qty"),
            F.sum(_dec2("l_extendedprice"))
            .cast("decimal(18,2)")
            .alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(18,4)").alias("sum_disc_price"),
            F.sum(charge).cast("decimal(18,6)").alias("sum_charge"),
            F.round(
                F.sum(_dec2("l_quantity")).cast("double") / n, 4
            ).alias("avg_qty"),
            F.round(
                F.sum(_dec2("l_extendedprice")).cast("double") / n, 4
            ).alias("avg_price"),
            F.round(
                F.sum(_dec2("l_discount")).cast("double") / n, 6
            ).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def r26_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: 6-way join (customer ⨝
    orders ⨝ lineitem ⨝ supplier ⨝ nation ⨝ region) with the
    same-nation constraint c_nationkey = s_nationkey — the query whose
    whole point is JOIN ORDER: naively joining lineitem⨝supplier
    before restricting to ASIA customers does the big shuffle twice.

    Scale shape: nation⨝region collapse to a ≤25-row broadcast dim
    pinned with F.broadcast (never trust the size estimator on a cold
    1000-executor cluster); customer is pre-filtered to one region via
    that broadcast BEFORE touching orders, so the expensive
    orders⨝lineitem shuffle join carries only ~1/5 of customers.
    supplier is deliberately NOT hint-broadcast — it grows with SF
    (10M rows at 100 TB); AQE picks BHJ at small SF on its own and
    switches to shuffle join when it stops fitting."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    nr = F.broadcast(
        load(spark, sf_dir, "nation")
        .join(
            F.broadcast(load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = load(spark, sf_dir, "customer").join(
        nr, F.col("c_nationkey") == F.col("n_nationkey")
    )
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("decimal(18,4)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


#: Q18 qualifying threshold: sum(l_quantity) per order is ~180 at the
#: 90th pct / 262 at the 99th on the synthetic data, so 250 keeps a
#: real but small qualifying set at every test SF.
R27_MIN_QTY = 250


def r27_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume customers: orders whose total
    lineitem quantity exceeds a threshold, joined back to customer —
    the group-HAVING-then-semi-join pattern (aggregate first, join the
    small survivor set).

    Scale shape: the l_orderkey aggregation is the dominant cost — a
    near-unique key, but map-side partial agg still collapses the ~4
    lines per order before the shuffle, and the HAVING filter then
    drops ~99% of groups. The tiny survivor set drives the joins to
    orders and customer; no hint — at small SF AQE broadcasts the
    survivors, at 100 TB (where top-1%-of-orders is millions of rows)
    it degrades gracefully to a key shuffle instead of OOMing a fixed
    broadcast. Top-100 is TakeOrderedAndProject with deterministic
    tie-breaks, never a global sort."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec2("l_quantity")).cast("decimal(18,2)").alias("sum_qty"))
        .where(F.col("sum_qty") > R27_MIN_QTY)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            F.col("l_orderkey").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _dec2("o_totalprice").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def r28_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped cheapest-supplier-per-part, re-expressed over
    lineitem (the dataset ships no partsupp): minimum observed line
    price per (part, supplier), then the argmin supplier per part with
    supplier/nation names — the correlated-min pattern Q2 writes as a
    scalar subquery, done as aggregate + window (Catalyst decorrelates
    to the same shape; the window form makes the single-survivor
    tie-break explicit: price then suppkey).

    Scale shape: the (partkey, suppkey) aggregation is the only pass
    over lineitem — one shuffle with map-side partials collapsing ~4
    lines per pair. The argmin window repartitions only the AGGREGATED
    relation (≪ lineitem). nation is a pinned broadcast; part and
    supplier join the tiny per-part survivor set (AQE broadcasts at
    small SF, degrades to keyed shuffle at 100 TB). Top-100 is
    TakeOrderedAndProject with full deterministic tie-breaks."""
    li = load(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec2("l_extendedprice")).alias("min_price")
    )
    w = Window.partitionBy("l_partkey").orderBy("min_price", "l_suppkey")
    best = (
        cost.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    nat = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        best.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "s_name",
            F.col("n_name").alias("supplier_nation"),
            "min_price",
        )
        .orderBy("min_price", "p_partkey")
        .limit(100)
    )


def r29_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check, reshaped to the dataset's
    columns (no l_commitdate/l_receiptdate ship with the data): count
    1996-H1 orders per priority that have at least one lineitem shipped
    more than 60 days after the order date — the EXISTS-with-inequality
    semi-join Q4 writes as a correlated subquery.

    Scale shape: the orders date filter is pushed to the parquet scan;
    the EXISTS is a LEFT SEMI join on the orderkey equi-key with the
    late-ship inequality as a residual condition, so each order is
    emitted at most once regardless of how many late lines it has — no
    dedup pass, no count inflation. Both sides shuffle once on
    l_orderkey/o_orderkey (the only big-big shuffle); the final
    5-row priority rollup is a map-side-partial agg."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def r30_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: per-customer
    order counts (excluding '5-LOW' priority, Q13's NOT LIKE analogue),
    including zero-order customers via a LEFT join, then the histogram
    of those counts.

    Scale shape: orders collapses to (custkey, count) FIRST — one
    map-side-partial shuffle on o_custkey — and only that aggregated
    relation (≤ one row per customer) joins customer, so the join input
    is bounded by |customer| on both sides. The LEFT join keeps
    never-ordered customers as count 0 (`coalesce`, the NULL→0 Q13
    requires). The final histogram groups on the tiny distinct-count
    domain. No row-level orders × customer join ever happens."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("c_count", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def r31_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share, per month over 1996:
    100 * promo disc-price / total disc-price, where promo means
    p_type = 'PROMO' (the dataset's p_type is a plain enum, not the
    three-word TPC-H type string).

    Scale shape: lineitem's date filter pushes to the scan; the
    part join is an equi-join on partkey (AQE broadcasts the pruned
    2-column part side at small SF; at 100 TB it degrades to a keyed
    shuffle co-partitioned with the downstream month agg — part is the
    smaller fact, never exploded). The promo flag becomes a CASE inside
    ONE aggregation pass — Q14's two-sum ratio, not two query passes.
    Double sums are order-dependent at the ulp, so both engines
    aggregate in DECIMAL and only the final ratio divides as double."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = _disc_price()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(
                F.lit(0).cast("decimal(18,4)"))).alias("promo_rev"),
            F.sum(disc).alias("total_rev"),
        )
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            F.round(
                F.lit(100.0) * F.col("promo_rev").cast("double")
                / F.col("total_rev").cast("double"),
                6,
            ).alias("promo_share"),
        )
        .orderBy("month")
    )


def r32_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity-order revenue: average yearly
    revenue lost if orders below 50% of a part's average quantity were
    not taken, for one brand. Q17 writes the per-part average as a
    correlated scalar subquery; here it is an explicit aggregate +
    self-join on the partkey — the decorrelated shape Catalyst produces
    anyway, made deterministic.

    Scale shape: the brand filter cuts part to ~1/25 BEFORE anything
    touches lineitem, and that small part side broadcasts into both the
    threshold aggregation and the final filter join. `branded` has two
    consumers and is deliberately NOT persisted, so the physical plan
    scans lineitem twice — both scans pruned to 3 columns and filtered
    by the broadcast part side at the join. At 100 TB the branded
    intermediate is ~4% of lineitem (still TBs), so two cheap pruned
    columnar scans beat materializing it; the only shuffle is the
    per-part avg, and the rejoin is threshold-side small (one row per
    surviving part — broadcast at any SF, bounded by |part|)."""
    part = load(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    thresh = branded.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        branded.join(
            F.broadcast(thresh.withColumnRenamed("l_partkey", "t_partkey")),
            F.col("l_partkey") == F.col("t_partkey"),
        )
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(_dec2("l_extendedprice")).cast("double") / F.lit(7.0), 4
            ).alias("avg_yearly")
        )
    )


def r33_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: discounted
    revenue over three OR'd (brand, quantity-range, size-range) arms.
    The trap Q19 tests is planners that turn the OR into a cartesian
    or scan the fact table three times.

    Scale shape: ONE equi-join on partkey with the whole disjunction as
    a residual filter — Catalyst additionally derives the implied
    per-side prefilters (quantity ≤ 30 on lineitem, the brand/size
    union on part) so both scans prune before the join. One pass, one
    shuffle (or a part broadcast at small SF), never three."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = lambda brand, qlo, qhi, smax: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("l_quantity").between(qlo, qhi)
        & F.col("p_size").between(1, smax)
    )
    cond = (
        arm("Brand#11", 1, 11, 5)
        | arm("Brand#21", 10, 20, 10)
        | arm("Brand#31", 20, 30, 15)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(F.sum(_disc_price()).alias("revenue"), F.count("*").alias("n_lines"))
    )


def r34_prospect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped prospect analysis: customers with
    above-average positive balance and no RECENT order (none since
    2000-01-01 — this dataset's order generator gives every customer
    at least one lifetime order, so Q22's literal "never ordered"
    matches zero rows; the lapsed-customer reshape keeps the exact
    NOT-EXISTS anti-join shape with survivors), rolled up per nation
    (no phone column; nationkey plays the country-code role).

    Scale shape: the global average is a 1-row aggregate broadcast as a
    scalar into the filter (one lineitem-free pass over customer); the
    "no recent order" test is a LEFT ANTI join against the DISTINCT
    custkeys of date-filtered orders — the date filter pushes to the
    scan and orders collapses to its key set (map-side partial
    distinct) before the join, so the anti probe is keyed and
    skew-free. Final rollup groups on the 25-value nation domain."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    okeys = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(okeys, cust.c_custkey == okeys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec2("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


#: both nations must have SUPPLIERS at every SF (sf0.001 ships only 10
#: suppliers over 10 nations) or a direction goes empty
R35_NATIONS = ("NATION_3", "NATION_8")


def r35_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue flowing between
    two nations in BOTH directions (supplier nation ships, customer
    nation buys), per year — the query whose point is the DOUBLE dim
    path on one fact: lineitem reaches nation once through supplier
    and once through orders→customer, and the pair filter must accept
    (A,B) and (B,A) but nothing else.

    Scale shape: the two nation lookups are pre-resolved into tiny
    broadcast maps (supplier→nation-name: |supplier| rows but 2
    columns, broadcast at small SF, keyed shuffle at 100 TB; the
    customer path pre-joins orders→customer BEFORE touching lineitem
    so the fact table shuffles once on l_orderkey). The disjunctive
    pair predicate is a residual on the already-joined row — never a
    second scan. Output is 2 directions x years."""
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    a, b = R35_NATIONS
    pair_ok = (
        (F.col("supp_nation") == a) & (F.col("cust_nation") == b)
    ) | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_disc_price()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


R36_NATION, R36_REGION = "NATION_3", "EUROPE"


def r36_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: within one region's customer
    market, the share of revenue captured by one nation's suppliers,
    per year — the conditional-aggregation-ratio pattern (numerator is
    a CASE inside the SAME aggregation as the denominator; two query
    passes would be the naive translation).

    Scale shape: region restriction prunes the customer dim BEFORE the
    fact joins (semi-join through the broadcast nation⨝region dim);
    lineitem shuffles once on l_orderkey against the pruned
    orders⨝customer side; the supplier-nation flag rides a broadcast
    supplier map. One pass, one conditional agg, years x 1 rows."""
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    dim = F.broadcast(
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )
    cust_in_region = (
        load(spark, sf_dir, "customer")
        .join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("r_name") == R36_REGION)
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .join(cust_in_region, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey")
    )
    supp_flag = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            (F.col("n_name") == R36_NATION).alias("is_target"),
        )
    )
    li = load(spark, sf_dir, "lineitem")
    disc = _disc_price()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp_flag, li.l_suppkey == supp_flag.s_suppkey)
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(F.when(F.col("is_target"), disc).otherwise(
                F.lit(0).cast("decimal(18,4)"))).alias("target_rev"),
            F.sum(disc).alias("total_rev"),
        )
        .select(
            "l_year",
            F.round(
                F.col("target_rev").cast("double")
                / F.col("total_rev").cast("double"),
                6,
            ).alias("mkt_share"),
            "target_rev",
            "total_rev",
        )
        .orderBy("l_year")
    )


def r37_returned_item_reporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item reporting: lost revenue per
    customer from RETURNED lineitems ('R' flag) for orders placed in
    one quarter, top 20 customers with their nation — the
    join-then-deep-groupBy shape (the aggregation key is wide:
    customer identity + nation), whose planner lesson is that the
    returnflag/date filters must reach the scans BEFORE the 3-way
    join, cutting the joined volume ~4×/8×.

    Scale shape: both fact filters are parquet-pushed; orders⨝lineitem
    shuffles on the orderkey once; Q10 groups AFTER the customer join,
    so the wide-key group-by collapses with map-side partials on the
    (custkey, name, bal, nation) grain; nation broadcasts. Top-20 is
    TakeOrderedAndProject with full tie-breaks."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    nat = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            _dec2("c_acctbal").alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


QUERIES = {
    "r1_broadcast_dim_join": r1_broadcast_dim_join,
    "r2_three_way_join": r2_three_way_join,
    "r3_left_join_orders": r3_left_join_orders,
    "r4_semi_join": r4_semi_join,
    "r5_anti_join": r5_anti_join,
    "r6_range_join": r6_range_join,
    "r7_asof_join": r7_asof_join,
    "r8_rollup": r8_rollup,
    "r9_cube": r9_cube,
    "r10_grouping_sets_sql": r10_grouping_sets_sql,
    "r11_distinct_counts": r11_distinct_counts,
    "r12_approx_distinct": r12_approx_distinct,
    "r13_window_rank": r13_window_rank,
    "r14_window_lag_lead": r14_window_lag_lead,
    "r15_window_moving_frame": r15_window_moving_frame,
    "r16_topk_global_sort": r16_topk_global_sort,
    "r17_set_ops": r17_set_ops,
    "r18_salted_skew_join": r18_salted_skew_join,
    "r19_correlated_subquery": r19_correlated_subquery,
    "r20_window_range_frame": r20_window_range_frame,
    "r21_pattern_match": r21_pattern_match,
    "r22_recursive_cte": r22_recursive_cte,
    "r23_rank_distribution": r23_rank_distribution,
    "r24_shipping_priority": r24_shipping_priority,
    "r25_pricing_summary": r25_pricing_summary,
    "r26_local_supplier_volume": r26_local_supplier_volume,
    "r27_large_volume_customer": r27_large_volume_customer,
    "r28_min_cost_supplier": r28_min_cost_supplier,
    "r29_order_priority_check": r29_order_priority_check,
    "r30_customer_order_distribution": r30_customer_order_distribution,
    "r31_promo_revenue_share": r31_promo_revenue_share,
    "r32_small_quantity_revenue": r32_small_quantity_revenue,
    "r33_disjunctive_predicate_revenue": r33_disjunctive_predicate_revenue,
    "r34_prospect_customers": r34_prospect_customers,
    "r35_nation_volume_shipping": r35_nation_volume_shipping,
    "r36_market_share": r36_market_share,
    "r37_returned_item_reporting": r37_returned_item_reporting,
}

_R21_LAGS = ",\n".join(
    f"                 LAG(value, {i}) OVER "
    f"(PARTITION BY user_id ORDER BY ts, event_id) AS l{i}"
    for i in range(len(R21_PATTERN))
)
#: same left-associative addition order as the Spark expression — the
#: IEEE op sequences match, so scores are bit-identical
_R21_SCORE = " + ".join(
    f"(l{len(R21_PATTERN) - 1 - k} * {p})" for k, p in enumerate(R21_PATTERN)
)

ORACLE = {
    "r25_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS sum_base_price,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(18,4)))
                    AS DECIMAL(18,4)) AS sum_disc_price,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(18,4))
                        * (1 + CAST(l_tax AS DECIMAL(18,2))))
                    AS DECIMAL(18,6)) AS sum_charge,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE) / COUNT(*), 4) AS avg_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / COUNT(*), 4) AS avg_price,
               ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                          AS DOUBLE) / COUNT(*), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-06-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "r26_local_supplier_volume": """
        SELECT n_name,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(18,4)))
                    AS DECIMAL(18,4)) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "r28_min_cost_supplier": """
        WITH cost AS (
          SELECT l_partkey, l_suppkey,
                 CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DECIMAL(18,2)) AS min_price
          FROM lineitem GROUP BY 1, 2
        ),
        best AS (
          SELECT *, row_number() OVER (PARTITION BY l_partkey
                      ORDER BY min_price, l_suppkey) AS rn
          FROM cost
        )
        SELECT p_partkey, p_name, p_brand, s_name,
               n_name AS supplier_nation, min_price
        FROM best
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE rn = 1
        ORDER BY min_price, p_partkey
        LIMIT 100
    """,
    "r27_large_volume_customer": f"""
        WITH big AS (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                      AS DECIMAL(18,2)) AS sum_qty
          FROM lineitem
          GROUP BY l_orderkey
          HAVING sum_qty > {R27_MIN_QTY}
        )
        SELECT c_name, c_custkey, l_orderkey AS o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
               sum_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 100
    """,
    "r24_shipping_priority": """
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(18,4)) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "r23_rank_distribution": """
        SELECT c_custkey, c_nationkey,
               ntile(4) OVER w AS quartile,
               floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0
                 AS pct_rank,
               floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0
                 AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal, c_custkey)
    """,
    "r22_recursive_cte": f"""
        WITH RECURSIVE months(m) AS (
          SELECT date_trunc('month', MIN(o_orderdate)) FROM orders
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders)
        ),
        big AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 COUNT(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
          FROM orders
          WHERE o_totalprice > {R22_BIG_ORDER}
          GROUP BY 1
        )
        SELECT strftime(months.m, '%Y-%m') AS ym,
               CAST(COALESCE(big.n, 0) AS BIGINT) AS n_big,
               CAST(COALESCE(big.s, 0) AS DECIMAL(18,2)) AS sum_price
        FROM months LEFT JOIN big ON big.m = months.m
    """,
    "r21_pattern_match": f"""
        WITH lagged AS (
          SELECT user_id, event_id,
{_R21_LAGS}
          FROM events
        ),
        scored AS (
          SELECT user_id, event_id,
                 {_R21_SCORE} AS raw_score,
                 l{len(R21_PATTERN) - 1} AS oldest
          FROM lagged
        )
        SELECT user_id, event_id, ROUND(raw_score, 4) AS score
        FROM scored
        WHERE oldest IS NOT NULL AND raw_score IS NOT NULL
        ORDER BY score DESC, event_id LIMIT 20
    """,
    "r20_window_range_frame": """
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (
                 PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW), 4)
                 AS trailing_30m_sum,
               COUNT(*) OVER (
                 PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
                 AS n_in_30m
        FROM events
    """,
    "r1_broadcast_dim_join": """
        SELECT r_name, COUNT(*) AS n_customers,
               SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "r2_three_way_join": """
        SELECT c_mktsegment, COUNT(*) AS n_lines,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY c_mktsegment
    """,
    "r3_left_join_orders": """
        SELECT c_mktsegment, COUNT(*) AS n_rows,
               COUNT(o_orderkey) AS n_orders,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orderless_rows
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    "r4_semi_join": """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND starts_with(o_orderpriority, '1'))
        GROUP BY c_mktsegment
    """,
    "r5_anti_join": """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    "r6_range_join": """
        WITH bands(band, lo, hi) AS (
          VALUES ('tiny', 0, 9), ('small', 10, 24),
                 ('medium', 25, 39), ('large', 40, 100)
        )
        SELECT band, COUNT(*) AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part JOIN bands ON p_size BETWEEN lo AND hi
        GROUP BY band
    """,
    "r7_asof_join": """
        SELECT p.event_id AS purchase_id, p.user_id,
               ROUND(p.value, 4) AS purchase_value,
               c.event_id AS last_click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (
          SELECT user_id, ts, MAX(event_id) AS event_id
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        ) c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "r8_rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 4) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "r9_cube": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price,
               GROUPING(o_orderstatus, o_orderpriority) AS gid
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "r10_grouping_sets_sql": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    "r11_distinct_counts": """
        SELECT COUNT(DISTINCT o_custkey) AS n_custkeys,
               COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS n_status_prio,
               COUNT(*) AS n_rows
        FROM orders
    """,
    "r12_approx_distinct": f"""
        WITH {_duck_hll_agg("lineitem", "l_orderkey", R12_HLL_P)}
        SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
               CAST({1 << R12_HLL_P} - registers_hit AS BIGINT)
                 AS n_empty_buckets,
               CAST(floor({_duck_hll_est(R12_HLL_P)[1]} + 0.5) AS BIGINT)
                 AS hll_estimate
        FROM agg
    """,
    "r13_window_rank": """
        SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 4) AS c_acctbal,
               rnk, drnk, rn
        FROM (
          SELECT c_custkey, c_nationkey, c_acctbal,
                 RANK() OVER w AS rnk,
                 DENSE_RANK() OVER w AS drnk,
                 ROW_NUMBER() OVER w AS rn
          FROM customer
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey)
        ) WHERE rn <= 3
    """,
    "r14_window_lag_lead": """
        SELECT event_id, user_id,
               ROUND(value - LAG(value, 1) OVER w, 4) AS delta_prev,
               LEAD(event_type, 1) OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "r15_window_moving_frame": """
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
                 AS trailing4_sum
        FROM events
    """,
    "r16_topk_global_sort": """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
    """,
    "r19_correlated_subquery": """
        SELECT o_custkey, COUNT(*) AS n_above
        FROM orders o
        WHERE o_totalprice > (
          SELECT AVG(o_totalprice) FROM orders i
          WHERE i.o_custkey = o.o_custkey
        )
        GROUP BY o_custkey
    """,
    "r18_salted_skew_join": """
        WITH dim AS (
          SELECT DISTINCT user_id, user_id % 5 AS tier FROM events
        )
        SELECT tier, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM events JOIN dim USING (user_id)
        GROUP BY tier
    """,
    "r17_set_ops": """
        WITH c AS (SELECT c_custkey AS k FROM customer),
             o AS (SELECT o_custkey AS k FROM orders),
             both_t AS (
               SELECT 'with_orders' AS tag, k FROM (
                 SELECT k FROM c INTERSECT SELECT k FROM o)),
             only_c AS (
               SELECT 'no_orders' AS tag, k FROM (
                 SELECT k FROM c EXCEPT ALL SELECT DISTINCT k FROM o))
        SELECT tag, COUNT(*) AS n, COUNT(DISTINCT k) AS n_distinct
        FROM (SELECT * FROM both_t UNION ALL SELECT * FROM only_c)
        GROUP BY tag
    """,
    "r29_order_priority_check": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "r30_customer_order_distribution": """
        WITH per_cust AS (
          SELECT o_custkey, COUNT(*) AS c_count
          FROM orders
          WHERE o_orderpriority <> '5-LOW'
          GROUP BY o_custkey
        )
        SELECT COALESCE(c_count, 0) AS c_count, COUNT(*) AS custdist
        FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
        GROUP BY 1
        ORDER BY custdist DESC, c_count DESC
    """,
    "r31_promo_revenue_share": """
        WITH m AS (
          SELECT date_trunc('month', l_shipdate) AS month,
                 SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_rev,
                 SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(18,4))) AS total_rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY 1
        )
        SELECT strftime(month, '%Y-%m') AS month,
               ROUND(100.0 * CAST(promo_rev AS DOUBLE)
                     / CAST(total_rev AS DOUBLE), 6) AS promo_share
        FROM m
        ORDER BY month
    """,
    "r32_small_quantity_revenue": """
        WITH branded AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#23'
        ),
        thresh AS (
          SELECT l_partkey AS t_partkey,
                 AVG(l_quantity) * 0.5 AS half_avg_qty
          FROM branded GROUP BY 1
        )
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS DOUBLE) / 7.0, 4) AS avg_yearly
        FROM branded JOIN thresh ON l_partkey = t_partkey
        WHERE l_quantity < half_avg_qty
    """,
    "r33_disjunctive_predicate_revenue": """
        SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))
                   AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11
               AND p_size BETWEEN 1 AND 5)
           OR (p_brand = 'Brand#21' AND l_quantity BETWEEN 10 AND 20
               AND p_size BETWEEN 1 AND 10)
           OR (p_brand = 'Brand#31' AND l_quantity BETWEEN 20 AND 30
               AND p_size BETWEEN 1 AND 15)
    """,
    "r34_prospect_customers": """
        SELECT c_nationkey, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "r35_nation_volume_shipping": f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE (sn.n_name = '{R35_NATIONS[0]}'
               AND cn.n_name = '{R35_NATIONS[1]}')
           OR (sn.n_name = '{R35_NATIONS[1]}'
               AND cn.n_name = '{R35_NATIONS[0]}')
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "r36_market_share": f"""
        WITH base AS (
          SELECT year(l_shipdate) AS l_year,
                 CASE WHEN sn.n_name = '{R36_NATION}' THEN 1 ELSE 0 END
                   AS is_target,
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      AS DECIMAL(18,4)) AS disc
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region   ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = '{R36_REGION}'
        ),
        agg AS (
          SELECT CAST(l_year AS INT) AS l_year,
                 SUM(CASE WHEN is_target = 1 THEN disc
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS target_rev,
                 SUM(disc) AS total_rev
          FROM base GROUP BY 1
        )
        SELECT l_year,
               ROUND(CAST(target_rev AS DOUBLE)
                     / CAST(total_rev AS DOUBLE), 6) AS mkt_share,
               CAST(target_rev AS DECIMAL(18,4)) AS target_rev,
               CAST(total_rev AS DECIMAL(18,4)) AS total_rev
        FROM agg
        ORDER BY l_year
    """,
    "r37_returned_item_reporting": """
        SELECT c_custkey, c_name,
               CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal,
               n_name,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                             AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
}
