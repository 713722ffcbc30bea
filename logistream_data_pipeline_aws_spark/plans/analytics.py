"""The analytics/BI query surface (SURVEY §2.4 A5-A8 + headline queries).

The reference's aggregation layer lives in Power BI over Redshift
(documentation/Project_Report.pdf pp.16-18, README.md RM:146-158); the four
canonical dashboard queries map onto the testdata star schema as:

- A5 hierarchical profit rollup  -> revenue by brand -> type (plus a true
  ``ROLLUP`` variant, the idiomatic upgrade noted in SURVEY §2.4)
- A6 time-series sales trend     -> monthly sum of o_totalprice
- A7 schedule adherence %        -> on-time ship share per linestatus
- A8 late-order volume by geo    -> returned-lineitem count per nation

Determinism contract with the DuckDB oracle: SUM over doubles is
order-dependent in the last ulp, so every money-sum is computed as
``SUM(CAST(x AS DECIMAL(18,2)))`` (exact, associative, order-independent)
and cast back to double; ratios divide two exact quantities once.  Every
computed column is aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logistream_data_pipeline_aws_spark.catalog import load_table
from logistream_data_pipeline_aws_spark.staging import stage


def dsum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent money sum: decimal-exact, surfaced as double.

    Scale 6 covers the exact decimal width of every derived measure here
    (2dp price × 2dp discount factor × 2dp tax factor) so the double ->
    decimal cast is exact — no round-half ties to diverge on between
    engines — and decimal addition is associative, so partial aggregation
    order can't perturb the result.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double").alias(alias)


def _revenue() -> Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# -- A5: hierarchical profit rollup ----------------------------------------


def _revenue_by_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregation-before-join: collapse the fact to one row per
    part key *before* touching the dimension.  Decimal sums and counts
    decompose exactly, so the final result is identical — but the join
    probes |part| rows instead of |lineitem| rows.  At 100 TB this is
    the difference between joining 600 B rows and 200 M."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    return lineitem.groupBy("l_partkey").agg(
        F.sum(_revenue().cast("decimal(30,6)")).alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )


def a5_profit_by_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by brand -> type (Treemap query, PR p.16): partial
    aggregate per part key, broadcast dim join, final rollup to the
    hierarchy level."""
    part = load_table(spark, "part", sf_dir)
    return (
        _revenue_by_partkey(spark, sf_dir)
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"), "left")
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum("_n").alias("n_items"),
        )
        .select("p_brand", "p_type", "total_revenue", "n_items")
    )


def a5_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True ROLLUP over the hierarchy: (brand,type) + (brand) + grand
    total, NULL-filled subtotal rows — grouping-sets expansion over the
    pre-aggregated per-part rows, not the raw fact."""
    part = load_table(spark, "part", sf_dir)
    return (
        _revenue_by_partkey(spark, sf_dir)
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"), "left")
        .rollup("p_brand", "p_type")
        .agg(
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum("_n").alias("n_items"),
        )
        .select("p_brand", "p_type", "total_revenue", "n_items")
    )


def a5_profit_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the hierarchy: every grouping-set combination including
    type-without-brand — the full OLAP slice surface in one pass."""
    part = load_table(spark, "part", sf_dir)
    return (
        _revenue_by_partkey(spark, sf_dir)
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"), "left")
        .cube("p_brand", "p_type")
        .agg(
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum("_n").alias("n_items"),
        )
        .select("p_brand", "p_type", "total_revenue", "n_items")
    )


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def segment_region_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: customer counts per region x market segment (the BI
    crosstab shape).  Explicit pivot values keep the plan one-pass —
    without them Spark needs an extra distinct scan to discover columns."""
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    geo = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        customer.join(F.broadcast(geo.select("n_nationkey", "r_name")),
                      customer.c_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("r_name").alias("region_name"))
        .pivot("c_mktsegment", SEGMENTS)
        .agg(F.count(F.lit(1)))
        .na.fill(0, SEGMENTS)
        .select("region_name", *SEGMENTS)
    )


# -- A6: time-series sales trend -------------------------------------------


def a6_sales_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total sales by year/month (dashboard p.2 trend, PR pp.16-17)."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(dsum("o_totalprice", "total_sales"), F.count(F.lit(1)).alias("n_orders"))
        .select("order_year", "order_month", "total_sales", "n_orders")
    )


def a6_sales_trend_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month delta via LAG over the monthly trend — the one
    genuinely windowed analytic in the surface (reference has none,
    SURVEY §2.5; this is the BI-layer's implicit time intelligence).
    The undated-orders bucket (NULL month) is excluded before the walk:
    it has no position in the order, and the engines sort NULLs at
    opposite ends (NULL-degenerate probe finding)."""
    from pyspark.sql import Window

    monthly = a6_sales_trend(spark, sf_dir).where(F.col("order_year").isNotNull())
    w = Window.orderBy("order_year", "order_month")
    return monthly.select(
        "order_year",
        "order_month",
        "total_sales",
        (F.col("total_sales") - F.lag("total_sales", 1).over(w)).alias("mom_delta"),
    )


def cumulative_monthly_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total over the monthly trend (frame: unbounded preceding
    -> current row).  The window input is the pre-aggregated monthly
    table (~tens of rows), so the global ordering is cheap at any fact
    scale — never window over the raw fact."""
    from pyspark.sql import Window

    # NULL-month bucket excluded before the walk (see a6_sales_trend_mom)
    monthly = a6_sales_trend(spark, sf_dir).where(F.col("order_year").isNotNull())
    w = (
        Window.orderBy("order_year", "order_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # decimal inside the window frame: windowed double sums accumulate in
    # engine-specific order (segment trees etc.) — decimal is associative
    return monthly.select(
        "order_year",
        "order_month",
        "total_sales",
        F.sum(F.col("total_sales").cast("decimal(30,6)")).over(w)
        .cast("double")
        .alias("cumulative_sales"),
    )


def customer_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned ranking: each customer's revenue rank + decile within
    their nation (rank / dense_rank / ntile in one pass over one shuffle
    keyed by nation)."""
    from pyspark.sql import Window

    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = (
        lineitem.join(orders.select("o_orderkey", "o_custkey"),
                      lineitem.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_custkey")
        .agg(dsum(_revenue(), "total_revenue"))
    )
    enriched = rev.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"), "inner",
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"), "inner",
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("total_revenue").desc(), F.col("c_custkey")
    )
    return enriched.select(
        F.col("n_name").alias("nation_name"),
        "c_custkey",
        "total_revenue",
        F.rank().over(w).cast("int").alias("rev_rank"),
        F.dense_rank().over(w).cast("int").alias("rev_dense_rank"),
        F.ntile(10).over(w).cast("int").alias("rev_decile"),
    ).where(F.col("rev_rank") <= 20)


def repeat_customers_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond the reference's single UNION (U1):
    INTERSECT = customers ordering in both 1995 and 1996;
    EXCEPT = 1995 customers lost in 1996.  One row per class."""
    orders = load_table(spark, "orders", sf_dir)
    y95 = orders.where(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = orders.where(F.year("o_orderdate") == 1996).select("o_custkey").distinct()

    def count_as(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers"
        )

    return (
        count_as(y95.intersect(y96), "retained")
        .union(count_as(y95.exceptAll(y96), "churned"))
        .union(count_as(y96.exceptAll(y95), "new"))
    )


def acctbal_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=>): match customers and suppliers on a
    nullable account-balance band where NULL band must match NULL band —
    plain equality would silently drop those rows."""
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    band = lambda c: F.when(F.col(c) < 0, F.lit(None)).otherwise(  # noqa: E731
        F.floor(F.col(c) / 1000).cast("long")
    )
    c = customer.select(F.col("c_nationkey").alias("nk"), band("c_acctbal").alias("band"))
    s = supplier.select(F.col("s_nationkey").alias("nk"), band("s_acctbal").alias("band"))
    return (
        c.join(s, (c.nk == s.nk) & c.band.eqNullSafe(s.band), "inner")
        .groupBy(c.nk.alias("nationkey"), c.band.alias("acct_band"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .select("nationkey", "acct_band", "n_matches")
    )


# -- A7: schedule adherence -------------------------------------------------


def a7_schedule_adherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of line items shipped within 30 days of order, per
    linestatus (adherence measure analog, PR pp.17-18: days_real vs
    days_scheduled per shipping_mode)."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    on_time = F.when(
        F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        lineitem.join(orders.select("o_orderkey", "o_orderdate"),
                      lineitem.l_orderkey == orders.o_orderkey, "left")
        .groupBy("l_linestatus")
        .agg(
            F.sum(on_time).alias("n_on_time"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "l_linestatus",
            "n_on_time",
            "n_total",
            F.round(F.col("n_on_time") / F.col("n_total"), 6).alias("adherence_rate"),
        )
    )


# -- A8: late/returned volume by geography ---------------------------------


def a8_returns_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-lineitem volume per customer nation (map bubble query,
    PR p.18: late_risk=1 count per country).  Filter is pushed below the
    joins; nation/region sides broadcast."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    # filter pushed to the scan, then pre-aggregate per order key before
    # the join chain: the orders join probes ~|orders| rows, not |lineitem|
    per_order = (
        lineitem.where(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(_revenue().cast("decimal(30,6)")).alias("_rev"),
        )
    )
    return (
        per_order.join(orders.select("o_orderkey", "o_custkey"),
                       per_order.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"), "inner")
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"), "inner")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum("_n").alias("n_returned_items"),
            F.sum("_rev").cast("double").alias("returned_revenue"),
        )
        .select("nation_name", "n_returned_items", "returned_revenue")
    )


# -- headline benchmark queries --------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical scan-heavy
    aggregate — filter pushdown + column pruning + partial aggregation
    are the whole game."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "sum_charge", "count_order",
        )
    )


def top_customers(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Top-k customers by revenue: big-big join then ordered limit
    (TopK physical operator — no global sort materialization).
    Deterministic tiebreak on c_custkey."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return (
        lineitem.join(orders.select("o_orderkey", "o_custkey"),
                      lineitem.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_custkey")
        .agg(dsum(_revenue(), "total_revenue"), F.count(F.lit(1)).alias("n_items"))
        .join(F.broadcast(customer.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"), "inner")
        .select(F.col("c_custkey"), F.col("c_name").alias("customer_name"),
                "total_revenue", "n_items")
        .orderBy(F.col("total_revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events table, batch form —
    the same window()+agg the streaming path runs incrementally
    (streaming.pipeline); epoch-aligned hourly buckets."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value", scale=4),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .select("window_start", "event_type", "n_events", "total_value", "n_users")
    )


def acctbal_window_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window surface in one pass per nation:
    percent_rank, cume_dist, and first/last/nth_value over an explicit
    whole-partition frame (the default frame stops at CURRENT ROW, which
    would make last_value a running copy of the current row — the
    classic frame bug this entry pins).  Total order via the
    (acctbal, custkey) tiebreak keeps every rank engine-deterministic;
    the acctbal leg is explicitly NULLS LAST — Spark's bare ASC is
    NULLS FIRST while DuckDB's is NULLS LAST, a rank divergence on any
    NULL balance (r5 customer-axis NULL probe finding)."""
    from pyspark.sql import Window

    customer = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return customer.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        # NO rounding here: both ratios are single int/int divisions, so
        # the raw doubles are bit-identical cross-engine — while ROUND(x, 6)
        # would hit the half-tie gap (Spark rounds the shortest decimal
        # repr HALF_UP, DuckDB rounds the binary value) exactly when a
        # partition size divides out to a 7dp-terminating ratio, which a
        # 15k-customer table does
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.first_value(F.col("c_acctbal")).over(wf).alias("nation_min_bal"),
        F.last_value(F.col("c_acctbal")).over(wf).alias("nation_max_bal"),
        F.nth_value(F.col("c_acctbal"), 2).over(wf).alias("nation_2nd_bal"),
    )


def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT/stack) of the lineitem measures for
    one ship month — the transpose half of the pivot pair
    (``segment_region_pivot`` is the other).  ``stack`` is a generator
    expression: no shuffle, no UDF; the month filter is pushed to the
    scan."""
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.year("l_shipdate") == 1996) & (F.month("l_shipdate") == 1)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE), "
            "'extendedprice', CAST(l_extendedprice AS DOUBLE), "
            "'discount', CAST(l_discount AS DOUBLE)) AS (measure, val)"
        ),
    )


# -- event-stream product analytics (funnel / cohort) -----------------------


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel view -> click -> purchase over the
    events feed (the dashboard query family the reference's PR p.17
    "event volume" panel implies but never ships).

    Step semantics are strictly sequential: a user counts for step N only
    with an event of step N's type AT OR AFTER their step-(N-1) entry
    time, so out-of-order histories (purchase before first view) do not
    leak forward.

    Plan shape: ONE pass over events — three chained whole-partition
    window minima over the same user_id partitioning (one Exchange, no
    sort: unordered frames), then a per-user rollup that reuses the same
    partitioning, then a single-row count.  The naive form (one
    aggregate-and-join per step) re-derives every earlier stage's subtree
    per step — 6 scans of the feed by step 3 — where this plan reads it
    once regardless of funnel depth.  Step timestamps are per-user window
    constants, so a step-N candidate filters against them row-locally.
    Timestamps truncate to seconds so both engines bucket identically.

    Output: one row per funnel step with the surviving-user count and the
    step-over-step conversion ratio (exact BIGINT/BIGINT division,
    row-local on the single counts row — no ratio join)."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    # anonymous events are not funnel-attributable — and the gate keeps
    # the window form equivalent to the join form (a NULL user would be a
    # real window partition but never survive an equi-join)
    e = events.where(F.col("user_id").isNotNull()).select(
        "user_id",
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        "event_type",
    )
    staged = (
        e.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_s"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts_s") >= F.col("t1")),
                    F.col("ts_s"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts_s") >= F.col("t2")),
                    F.col("ts_s"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").alias("n1"), F.count("t2").alias("n2"), F.count("t3").alias("n3")
    )
    # all three counts sit in ONE row, so the step-over-step ratios are
    # row-local arithmetic inside the unpivot — a self-join here would
    # re-derive the whole window pipeline (second feed scan) for a 3-row
    # frame
    # nullif guards: an EMPTY funnel step must yield a NULL conversion,
    # not an ANSI DIVIDE_BY_ZERO crash (DuckDB's x/0 is NULL; Spark 4's
    # ANSI default throws — found by the r5 scale probe on a corpus
    # where no user had a view-then-click sequence)
    return counts.select(
        F.expr(
            "stack(3, 1, 'view', n1, CAST(NULL AS DOUBLE), "
            "2, 'click', n2, n2 / nullif(n1, 0), "
            "3, 'purchase', n3, n3 / nullif(n2, 0)) "
            "AS (step, step_name, n_users, conv_from_prev)"
        )
    ).select(
        F.col("step").cast("int").alias("step"),
        "step_name",
        "n_users",
        "conv_from_prev",
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen DAY, distinct
    active users per (cohort, days-since-first) cell, plus the retention
    ratio against the cohort's size.  (Day granularity because the events
    feed spans ~one month; the month variant is the same plan with a
    coarser truncation.)

    Plan shape: first-seen is a min-aggregate per user; the activity join
    lands on the same user_id partitioning (exchange reused); the matrix
    is a two-column hash aggregate with an exact COUNT(DISTINCT) (Spark
    expands this to a two-level aggregate — partial distinct per
    partition, then merge — so no single task ever holds a cohort's full
    user set).  Cohort sizes read the offset-0 cells of the same
    aggregated matrix through a partitioned window — never a join back
    that would rescan the feed.  Day arithmetic is integer
    date subtraction, immune to timezone/DST interval edge cases."""
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    e = events.select("user_id", F.to_date(F.col("ts")).alias("d"))
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("d0"))
    cells = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            F.col("d0").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("d0")).cast("int").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    # cohort sizes are the offset-0 cells of the SAME aggregated matrix:
    # a windowed max over cohort_day reads it in place, where a filter +
    # join-back would re-derive the whole aggregation subtree (second
    # scan of the feed).  The window input is the (cohort x offset)
    # matrix — thousands of rows at any fact scale — and it is
    # partitioned, so no single-task funnel.
    w = Window.partitionBy("cohort_day")
    return cells.select(
        "cohort_day",
        "day_offset",
        "n_active",
        F.max(F.when(F.col("day_offset") == 0, F.col("n_active")))
        .over(w)
        .alias("cohort_size"),
    ).withColumn("retention", F.col("n_active") / F.col("cohort_size"))


def daily_sales_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware trailing-week aggregate via a RANGE frame — the
    frame type the surface lacked next to ROWS (bounded + unbounded):
    ``RANGE BETWEEN 6 PRECEDING AND CURRENT ROW`` over an epoch-day
    ordering covers the last SEVEN CALENDAR DAYS, so a gap in the daily
    series shrinks the window's row count instead of silently reaching
    further back the way the ROWS form does (the two agree only on a
    gap-free calendar — ``daily_sales_moving_avg`` is the ROWS cousin).
    Same scale discipline: the frame walks the pre-aggregated daily
    table, decimal inside the frame, one closing division."""
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("_d"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # RANGE frames need a numeric ordering key: epoch days
    withday = daily.withColumn("_day_n", F.unix_date(F.col("order_day")))
    w = Window.orderBy("_day_n").rangeBetween(-6, 0)
    return withday.select(
        "order_day",
        F.col("_d").cast("double").alias("daily_sales"),
        "n_orders",
        F.count(F.lit(1)).over(w).alias("days_in_window"),
        (
            F.sum("_d").over(w).cast("double") / F.count(F.lit(1)).over(w)
        ).alias("range7_avg"),
    )


def brand_share_within_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent: each brand's share of its part type's revenue
    — the ubiquitous BI ratio ("% of subtotal") the rollup/cube surface
    doesn't express directly.  The type total attaches via a
    whole-partition window over the (brand x type)-sized aggregate (no
    join-back, no re-derivation), both operands stay decimal until the
    single closing division, and the window input is the aggregated
    frame, never the fact."""
    from pyspark.sql import Window

    part = load_table(spark, "part", sf_dir)
    by_brand = (
        _revenue_by_partkey(spark, sf_dir)
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .groupBy("p_type", "p_brand")
        .agg(F.sum("_rev").alias("_brand_rev"), F.sum("_n").alias("n_items"))
    )
    wt = Window.partitionBy("p_type")
    return by_brand.select(
        "p_type",
        "p_brand",
        F.col("_brand_rev").cast("double").alias("brand_revenue"),
        "n_items",
        (
            F.col("_brand_rev").cast("double")
            / F.sum("_brand_rev").over(wt).cast("double")
        ).alias("share_of_type"),
    )


def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    segmentation every CRM warehouse derives from the order history.

    Quintile scores come from broadcast percentile cutpoints (the
    ``events_value_binning`` shape), NOT from a global ``ntile`` window:
    the customer dimension grows with the fact at scale, and cutpoints
    make the scoring a row-local threshold sum after one broadcast —
    no total-order sort anywhere.  Recency is measured in days before a
    fixed anchor just past the data's horizon (small = recent, so the
    R score counts cutpoints ABOVE the value while F/M count below);
    monetary runs through the decimal-sum contract; cutpoints round to
    6dp, the proven cross-engine-exact surface for interpolated
    percentiles.  Like the Pareto cutpoints, the exact percentile here
    is the oracle-checkable baseline — at warehouse scale swap in
    approx_percentile (the events_value_binning note)."""
    per_cust = _rfm_per_customer(spark, sf_dir)
    stats = per_cust.agg(*_rfm_cutpoints(exact=True))
    scored = per_cust.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _rfm_score("recency_days", "r", above=True).alias("r_score"),
        _rfm_score("frequency", "f", above=False).alias("f_score"),
        _rfm_score("monetary", "m", above=False).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


def _rfm_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    anchor = "2002-01-01"
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(anchor).cast("date"), F.max(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .cast("double")
        .alias("monetary"),
    )


def _rfm_cutpoints(exact: bool, cp: str = "") -> list[Column]:
    """Quintile cutpoint aggregates for the three RFM measures, aliased
    ``{cp}{r|f|m}p{1..4}``.  ``exact`` picks the interpolated exact
    percentile (oracle-parity baseline, single global buffer) vs the
    KLL-sketch ``approx_percentile`` at accuracy 10000 (map-side
    combinable, rank error <= 1e-4 — the 100 TB form)."""
    qs = [i / 5 for i in range(1, 5)]
    if exact:
        return [
            F.round(F.expr(f"percentile({m}, {q})"), 6).alias(f"{cp}{m[0]}p{i}")
            for m in ("recency_days", "frequency", "monetary")
            for i, q in enumerate(qs, start=1)
        ]
    return [
        F.expr(f"approx_percentile({m}, {q}, 10000)")
        .cast("double")
        .alias(f"{cp}{m[0]}p{i}")
        for m in ("recency_days", "frequency", "monetary")
        for i, q in enumerate(qs, start=1)
    ]


def _rfm_score(value: str, prefix: str, above: bool, cp: str = "") -> Column:
    """Row-local threshold-sum quintile score against the broadcast
    cutpoints named ``{cp}{prefix}p{1..4}``."""
    hits = [
        F.when(
            F.col(f"{cp}{prefix}p{i}") > F.col(value)
            if above
            else F.col(value) > F.col(f"{cp}{prefix}p{i}"),
            F.lit(1),
        ).otherwise(F.lit(0))
        for i in range(1, 5)
    ]
    return (sum(hits) + F.lit(1)).cast("int")


def customer_rfm_scores_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production form of the RFM scoring: identical plan to
    ``customer_rfm_scores`` except the quintile cutpoints come from
    ``approx_percentile`` (KLL sketch, map-side combinable, fixed
    memory) instead of the exact global-buffer ``percentile`` that the
    100x scale probe measured super-linear (VERDICT r4).  Unlike the
    Pareto twin the cutpoints here ARE the semantics, so scores near a
    quintile boundary may differ from the exact form — by at most 1 on
    all-distinct measures (the 1e-4 rank-error windows of adjacent
    cutpoints cannot overlap), at most 2 when adjacent exact cutpoints
    tie on a heavily-duplicated value (r5 ADVICE).  The verdict entry is
    ``customer_rfm_scores_approx_checked``, which folds that bound into
    the plan as boolean verdicts; THIS sketch-only form is also
    registered (rows+schema check) and benched — it is the one to copy
    at warehouse scale, since it never aggregates the exact global
    percentile buffer."""
    per_cust = _rfm_per_customer(spark, sf_dir)
    stats = per_cust.agg(*_rfm_cutpoints(exact=False))
    scored = per_cust.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _rfm_score("recency_days", "r", above=True).alias("r_score"),
        _rfm_score("frequency", "f", above=False).alias("f_score"),
        _rfm_score("monetary", "m", above=False).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


def customer_rfm_scores_approx_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable form of the approx RFM scoring (the
    ``events_sketch_profile_checked`` pattern): ONE cutpoint aggregation
    computes both the exact and the sketch quintiles, every customer is
    scored against both, and the plan emits the deterministic base
    columns plus BOOLEAN verdicts asserting each approx score lands
    within +/-1 of its exact counterpart.  The DuckDB oracle computes
    the base columns exactly and literal TRUE for the verdicts, so a
    broken sketch (null cutpoint, wild estimate, misaligned alias)
    flips a boolean and fails the value hash.  The bound is +/-2, not
    +/-1: the sketch's rank error (1e-4 at accuracy 10000) is orders of
    magnitude narrower than the 0.2 rank gap between adjacent quintile
    cutpoints, so on an all-distinct measure at most one cutpoint per
    measure can flip — but on heavily TIED distributions (frequency and
    monetary here are small discrete counts / repeated totals) two
    adjacent exact cutpoints can land on the same value, and a sketch
    estimate straddling that tie run's boundary can then move a score by
    2 (r5 ADVICE).  +/-2 stays deterministic under ties while still
    catching every real sketch failure mode (NULL cutpoints and wild
    estimates shift scores by far more).  The production projection is
    ``customer_rfm_scores_approx`` above."""
    per_cust = _rfm_per_customer(spark, sf_dir)
    stats = per_cust.agg(
        *_rfm_cutpoints(exact=True), *_rfm_cutpoints(exact=False, cp="a")
    )
    both = per_cust.crossJoin(F.broadcast(stats))

    def ok(value: str, prefix: str, above: bool) -> Column:
        exact = _rfm_score(value, prefix, above)
        approx = _rfm_score(value, prefix, above, cp="a")
        return (F.abs(exact - approx) <= F.lit(2)).alias(f"{prefix}_score_ok")

    return both.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        ok("recency_days", "r", above=True),
        ok("frequency", "f", above=False),
        ok("monetary", "m", above=False),
    )


def _staged_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part revenue staged once per (session, corpus): the Pareto
    query references it from three shapes (ranked rows, decile
    cutpoints, decile totals), and without staging each reference
    re-derives the full lineitem aggregation — the re-derivation trap
    (BUILDLOG r4)."""
    return stage(
        spark, sf_dir, "part_revenue",
        lambda: load_table(spark, "lineitem", sf_dir)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(30,4)")
            ).alias("rev")
        )
        .persist(),
    )


def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue (A = first 80% of
    cumulative revenue, B = next 15%, C = tail) — the inventory-priority
    analysis at the heart of supply-chain planning.

    The global running total is DECOMPOSED, never a single-task window:
    parts land in revenue-ordered deciles via broadcast percentile
    cutpoints, the cumulative sum runs inside each decile (partitioned
    window, decimal in-frame), and each decile's opening offset is a
    triangular join over the 10-row decile-totals frame — the
    ``with_sequential_key_ranged`` shape applied to a running sum, so
    the plan survives a part dimension that grows with the fact table.
    The decile cutpoints use EXACT percentile for oracle parity; it
    aggregates one global buffer, which the 100x scale probe shows
    becoming the dominant cost around ~2M parts — at warehouse scale
    use the registered ``lineitem_abc_pareto_approx`` twin, whose
    approx_percentile cutpoints are provably result-identical (the
    decomposition itself is unchanged).
    Scale 4 is the exact width of 2dp price x 2dp discount factor, and
    keeps every decimal-to-double cast under 2^53 (above that DuckDB's
    int128 conversion double-rounds).  Decile assignment is row-local,
    so equal-revenue rows share a decile and the per-decile
    (rev DESC, partkey) order concatenates to the exact global order."""
    rev = _staged_part_revenue(spark, sf_dir)
    rev_d = rev.withColumn("rev_dbl", F.col("rev").cast("double"))
    qs = [i / 10 for i in range(1, 10)]
    cuts = rev_d.agg(
        *[
            F.round(F.expr(f"percentile(rev_dbl, {q})"), 6).alias(f"p{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    return _pareto_from_cuts(rev_d, cuts)


def lineitem_abc_pareto_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE registered form of the ABC/Pareto classification:
    identical output to ``lineitem_abc_pareto`` — same oracle SQL, full
    hash-exact parity — with the one super-linear piece replaced.

    Why the swap is provably result-identical: in the decomposed
    cumulative sum the decile cutpoints are ONLY a partitioning device.
    Binning is row-local (count of cutpoints strictly below the value),
    so ANY threshold set bins equal revenues together and keeps bins
    revenue-ordered; the per-bin (rev DESC, partkey) windows then
    concatenate to the exact global order regardless of where the
    thresholds fell — the thresholds affect load balance, never values.
    ``approx_percentile`` (KLL-style sketch: map-side combinable, fixed
    memory, one pass) therefore replaces the exact ``percentile`` whose
    single global aggregation buffer the 100x scale probe measured going
    super-linear (~40 s at ~2M parts, VERDICT r4 "What's wrong" #1).
    The exact form above stays registered as the oracle-parity baseline;
    this is the form to copy at warehouse scale."""
    rev = _staged_part_revenue(spark, sf_dir)
    rev_d = rev.withColumn("rev_dbl", F.col("rev").cast("double"))
    qs = ", ".join(str(i / 10) for i in range(1, 10))
    cuts = rev_d.agg(
        F.expr(f"approx_percentile(rev_dbl, array({qs}), 10000)").alias("aq")
    ).select(*[F.col("aq")[i].alias(f"p{i + 1}") for i in range(9)])
    return _pareto_from_cuts(rev_d, cuts)


def _pareto_from_cuts(rev_d: DataFrame, cuts: DataFrame) -> DataFrame:
    """Shared decomposed-cumsum tail of the two Pareto forms: bin by the
    9 cutpoints (strict >, row-local), run the cumulative decimal window
    inside each bin, offset each bin by the running sum over the 10 bin
    totals, then classify.

    The cutpoints, bin totals and grand total are DRIVER LITERALS
    (r15): every one of these frames is bounded by the fixed decile
    count at ANY corpus scale (9 doubles, <= 10 decimals, 1 decimal),
    yet each previously rode its own broadcast subtree whose
    percentile/aggregate jobs re-executed per reference — the cuts
    subtree alone ran 2-4x per call (no runtime exchange reuse), ~0.4 s
    per execution at sf0.1 for a 9-double result.  Collecting them is
    the k-gated argmin discipline applied to the Pareto tail: two
    bounded collect jobs replace four broadcast subtrees and the
    triangular offsets join.  Values are identical by construction —
    doubles round-trip py4j bit-exactly, and the decimal totals are
    re-embedded via their exact string repr at the original scale
    (Python Decimal addition over the per-bin sums is the same exact
    arithmetic the former SUM-over-join performed)."""
    from decimal import Decimal

    from pyspark.sql import Window

    crow = cuts.collect()[0]
    cut_lits = [
        F.lit(None).cast("double") if crow[i] is None else F.lit(float(crow[i]))
        for i in range(9)
    ]
    decile_expr = sum(
        F.when(F.col("rev_dbl") > cut_lits[i], F.lit(1)).otherwise(F.lit(0))
        for i in range(9)
    )
    binned = rev_d.select(
        "l_partkey", "rev", "rev_dbl", decile_expr.cast("int").alias("decile")
    )
    totals = {
        r["decile"]: r["dec_total"]
        for r in binned.groupBy("decile")
        .agg(F.sum("rev").alias("dec_total"))
        .collect()
    }
    # offset per bin = exact Decimal sum of every HIGHER bin's total
    # (revenue-ordered deciles descend: bin 9 holds the largest
    # revenues and opens the running order); bins with no higher bin
    # keep NULL, exactly like the former left triangular join
    def _offset(d: int) -> Decimal | None:
        higher = [t for d2, t in totals.items() if d2 > d and t is not None]
        return sum(higher, Decimal(0)) if higher else None

    offset_expr = F.lit(None).cast("decimal(38,4)")
    for d in sorted(totals):
        off = _offset(d)
        offset_expr = F.when(
            F.col("decile") == d,
            F.lit(None).cast("decimal(38,4)")
            if off is None
            else F.lit(str(off)).cast("decimal(38,4)"),
        ).otherwise(offset_expr)
    # grand total = exact Decimal sum of the bin totals (decimal
    # addition is associative — identical to the former SUM over rev)
    tvals = [t for t in totals.values() if t is not None]
    total_val = sum(tvals, Decimal(0)) if tvals else None
    total_lit = (
        F.lit(None).cast("decimal(38,4)")
        if total_val is None
        else F.lit(str(total_val)).cast("decimal(38,4)")
    )
    wc = (
        Window.partitionBy("decile")
        .orderBy(F.col("rev").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        "l_partkey",
        "rev_dbl",
        "decile",
        F.sum("rev").over(wc).alias("_run"),
    ).select(
        "l_partkey",
        "rev_dbl",
        (
            F.coalesce(offset_expr, F.lit(0).cast("decimal(30,4)"))
            + F.col("_run")
        ).alias("cum"),
    )
    share = F.col("cum").cast("double") / total_lit.cast("double")
    return cum.select(
        "l_partkey",
        F.col("rev_dbl").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.80, F.lit("A"))
        .when(share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def orders_backlog_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — the classic interval-overlap count
    ("how many orders were in flight on day X"), computed by the
    scatter/accumulate decomposition that scales: each order emits a +1
    delta at its order date and a -1 at its LAST ship date (the day it
    fully leaves the backlog), deltas collapse to one row per day, and
    the running sum walks the ~calendar-sized daily frame — never an
    O(orders x days) overlap join.  An order with no lineitems simply
    never decrements (it stays open, which is the truthful answer).

    Integer arithmetic end to end; the cumulative window follows the
    ``daily_sales_moving_avg`` precedent (global order over the
    pre-aggregated daily table, bounded by the calendar at any fact
    scale)."""
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # undated deltas are excluded on both ends: an order without an
    # order date never opens, and an order whose lineitems all lack
    # ship dates never closes (stays in the backlog) — and a NULL day
    # would sit at opposite ends of the running walk per engine
    opened = orders.where(F.col("o_orderdate").isNotNull()).select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta")
    )
    closed = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("day"))
        .where(F.col("day").isNotNull())
        .select("day", F.lit(-1).alias("delta"))
    )
    daily = (
        opened.unionByName(closed)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("n_opened"),
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).alias("n_closed"),
            F.sum("delta").alias("_net"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum("_net").over(w).alias("backlog"),
    )


def daily_sales_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average of daily sales — the bounded-
    preceding window frame (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
    the one frame shape the surface lacked next to the running total's
    unbounded frame and LAG's offset.

    Same scale discipline as ``cumulative_monthly_sales``: the window
    input is the pre-aggregated daily table (a few thousand rows at any
    fact scale), never the raw fact, so the global ordering is cheap;
    the frame sum stays DECIMAL inside the window (cross-engine windowed
    double sums diverge) and the average divides two exact quantities
    once, as double arithmetic both engines share bit-for-bit."""
    from pyspark.sql import Window

    # undated orders excluded: the moving-average walk needs a total
    # order and the engines sort NULLs at opposite ends (probe finding)
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("_d"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("order_day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "order_day",
        F.col("_d").cast("double").alias("daily_sales"),
        "n_orders",
        (
            F.sum("_d").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("mov7_avg"),
    )
