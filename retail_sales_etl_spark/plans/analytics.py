"""Analytics query catalog over the star schema, with DuckDB oracles.

These are the SQL analytics the reference's warehouse exists to serve
(README "Enable SQL-based analytics"), expressed as declarative Spark
plans: filters sit directly on the parquet scans (pushdown), dimension
joins are broadcast (no fact shuffle), every aggregate is a map-side
partial combine, and float sums go through per-row DECIMAL casts so the
result is exact and independent of partition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import load_table
from ..functions.ols import ols_fit, ols_sums
from ..functions.rounding import fround

# Per-row cast target for float aggregation: exact decimal sums.
DEC = "decimal(25,6)"


def _dec(col: F.Column) -> F.Column:
    return col.cast(DEC)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped rollup: flag/status pricing summary.

    Single scan -> partial agg -> 6-group final agg; the shipdate filter
    is pushed to the parquet reader.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e, d, t = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(e)).cast("double").alias("sum_base_price"),
            F.sum(_dec(e * (F.lit(1.0) - d))).cast("double").alias("sum_disc_price"),
            F.sum(_dec(e * (F.lit(1.0) - d) * (F.lit(1.0) + t)))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            (F.sum(_dec(e)).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_dec(d)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped join chain: fact -> orders -> customer -> nation -> region.

    customer/nation/region broadcast; lineitem joins orders on the fact
    key (the one unavoidable shuffle, AQE-coalesced).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(_dec(rev)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by order revenue.

    Distributed top-k: agg + orderBy + limit (TakeOrdered — no global
    window shuffle); rank assigned on the 10 surviving rows only.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    agg = orders.groupBy("o_custkey").agg(
        F.sum(_dec(F.col("o_totalprice"))).alias("rev_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    top = (
        agg.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.col("rev_dec").desc(), F.col("o_custkey"))
        .limit(10)
    )
    w = Window.orderBy(F.col("rev_dec").desc(), F.col("o_custkey"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("o_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("rev_dec").cast("double").alias("revenue"),
        "n_orders",
        "rank",
    )


def q_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed order activity."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total_revenue"),
            F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        )
    )


def q_segment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment customer stats."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1)))
        .alias("avg_acctbal"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
    )


def q_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped conditional-aggregate ratio: PROMO revenue share."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    zero = F.lit(0).cast(DEC)
    joined = li.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_share_pct"),
    )


def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped EXISTS semi-join: orders with a returned line."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped HAVING agg: orders whose total quantity exceeds 250."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
    )
    return big.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("qty_dec").cast("double").alias("sum_qty"),
    )


def q_supplier_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shaped value concentration: suppliers whose lineitem revenue
    exceeds 1.1x the average supplier's.

    The scalar subquery (global avg) is a 1-row aggregate broadcast
    back over the per-supplier rollup — no second scan of the fact, no
    correlated per-row subquery. Threshold is relative, so the result
    stays meaningful at any scale factor.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_dec"))
    stats = per_supp.agg(
        (F.sum("rev_dec").cast("double") / F.count(F.lit(1))).alias("avg_rev"),
        F.sum("rev_dec").cast("double").alias("total_rev"),
    )
    return (
        per_supp.crossJoin(broadcast(stats))
        .filter(F.col("rev_dec").cast("double") > F.lit(1.1) * F.col("avg_rev"))
        .join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("rev_dec").cast("double").alias("revenue"),
            (F.lit(100.0) * F.col("rev_dec").cast("double") / F.col("total_rev"))
            .alias("share_pct"),
        )
    )


def q_exclusive_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped exclusive-existence: for multi-supplier orders where
    EXACTLY ONE supplier shipped late (>90 days after the order date),
    charge that supplier; count charged orders per supplier.

    The EXISTS/NOT-EXISTS pair decorrelates into per-order aggregates —
    a fact shuffle on the order key instead of two correlated probes
    per row. Two-stage shape: first collapse to (order, supplier,
    any_late) grain, THEN count per order. The single-agg double
    count_distinct alternative plans an Expand (3x the joined rows
    into the shuffle); measured at the 100x probe this two-stage form
    is ~4x faster (53.5s -> 13.5s), identical results.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_pair = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("is_late"))
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late_supp"),
            F.min(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("n_charged_orders"))
        .join(broadcast(supplier), F.col("late_supp") == F.col("s_suppkey"))
        .select(
            F.col("late_supp").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            "n_charged_orders",
        )
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped anti-join: customers with above-average positive
    balance and NO orders since 2000, rolled up per nation.

    Scalar avg broadcast + left-anti join against the recent-orders
    keys — the anti side is distinct order custkeys, far smaller than
    the fact.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    pos = customer.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1)))
        .alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        customer.crossJoin(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_acctbal"),
        )
    )


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shaped semi-join chain: suppliers shipping >10% of a part's
    total quantity, with the count of parts they dominate.

    Per-(supplier, part) rollup joined to the per-part total — the
    part total reuses the pair rollup (no second fact scan), and the
    comparison happens on the already-aggregated (small) side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    pair = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(_dec(F.col("l_quantity"))).alias("qty_dec")
    )
    part_tot = pair.groupBy("l_partkey").agg(
        F.sum("qty_dec").alias("part_qty_dec")
    )
    return (
        pair.join(part_tot, "l_partkey")
        .filter(
            F.col("qty_dec").cast("double")
            > F.lit(0.1) * F.col("part_qty_dec").cast("double")
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
        .join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            "n_dominant_parts",
        )
    )


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def q_revenue_pivot_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted rollup: nation x market-segment revenue matrix.

    ``pivot`` with an EXPLICIT value list — without it Spark runs an
    extra distinct-scan to discover the columns and the output schema
    becomes data-dependent (a breaking change waiting to happen at
    100 TB). With the list, this is one pass: partial aggs per
    (nation, segment) then a width-5 reshape, no second scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    pivoted = (
        joined.groupBy(F.col("n_name").alias("nation_name"))
        .pivot("c_mktsegment", SEGMENTS)
        .agg(F.sum(_dec(F.col("o_totalprice"))).cast("double"))
    )
    return pivoted.select(
        "nation_name",
        *[F.col(s).alias(f"rev_{s.lower()}") for s in SEGMENTS],
    )


def q_star_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full star join, revenue rollup by region x year.

    lineitem joins orders on the fact key; every dimension side is
    broadcast, so the fact table is scanned once and shuffled once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.sum(_dec(rev)).cast("double").alias("revenue"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("total_qty"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        )
    )


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shaped market share: each nation's revenue share within its
    region-year, via a window sum over the grouped aggregate (no second
    join back to totals)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    grouped = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.year("o_orderdate").alias("order_year"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(rev).alias("rev_dec"))
    )
    w = Window.partitionBy("region_name", "order_year")
    return grouped.select(
        "region_name",
        "order_year",
        "nation_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.lit(100.0)
            * F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w).cast("double")
        ).alias("share_pct"),
    )


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped min-cost lookup: per part, the supplier with the lowest
    average line price (deterministic tie-break on supplier key)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("avg_price"), F.col("l_suppkey")
    )
    return (
        per_ps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("l_suppkey").alias("supplier_id"),
            "avg_price",
            "n_lines",
        )
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated average: revenue of lines whose quantity is
    below half their part's average quantity (decorrelated into an
    aggregate + join — the plan Spark's optimizer produces for the
    correlated subquery form)."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    joined = li.join(broadcast(part_avg), F.col("l_partkey") == F.col("pk"))
    small = joined.filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("small_revenue"),
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0))
        .alias("avg_yearly"),
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped shipping priority: top-10 open orders by pending
    revenue for one segment — filters pushed to all three scans,
    customer broadcast, distributed TakeOrdered for the top-k."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= F.lit("1997-06-30").cast("timestamp")
    )
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("o_orderkey").alias("order_id"),
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(F.sum(rev).alias("rev_dec"))
    )
    top = agg.orderBy(F.col("rev_dec").desc(), F.col("order_id")).limit(10)
    return top.select(
        "order_id",
        "order_date",
        "order_priority",
        F.col("rev_dec").cast("double").alias("revenue"),
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped disjunctive predicate join: OR-of-AND branches mixing
    part attributes and line measures. Catalyst extracts the common
    join key and pushes the branch predicates below the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    branch1 = (
        (F.col("p_type") == "PROMO")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    branch2 = (
        (F.col("p_type") == "STANDARD")
        & F.col("p_size").between(5, 25)
        & F.col("l_quantity").between(5, 35)
    )
    branch3 = (F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 25)
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    return joined.filter(branch1 | branch2 | branch3).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped custdist: how many customers placed exactly N
    non-urgent orders — INCLUDING the zero bucket, which is why the
    join must be a left outer with the order filter on the JOIN side
    (a WHERE would silently drop order-less customers).

    Two aggregations: per-customer count (shuffle on custkey, the
    orders side pre-filtered at the scan) then the tiny distribution
    rollup.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped promo share: % of 1997 discounted revenue from PROMO
    parts. Conditional decimal sums in ONE pass over the date-pruned
    scan; part joins broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    joined = li.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC)))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
        (
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC))
            ).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_share_pct"),
    )


def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shaped volume shipping: cross-border revenue by (supplier
    nation, customer nation, ship year). Both nation lookups broadcast;
    the fact shuffles once for the orders join, and the final rollup
    groups a few hundred keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_late_shipment_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped priority mix: for late vs on-time shipments (shipped
    >60 days after ordering), how many lines carry critical (URGENT/
    HIGH) vs normal priority. One fact-fact shuffle, conditional counts
    combine map-side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.when(late, "late").otherwise("ontime").alias("ship_class"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("critical_lines"),
            F.sum(F.when(~crit, 1).otherwise(0)).alias("normal_lines"),
            F.count(F.lit(1)).alias("total_lines"),
        )
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped profit rollup: per (supplier nation, order year),
    profit = discounted revenue - retail cost of the shipped quantity
    (p_retailprice stands in for ps_supplycost — this dataset carries
    no partsupp table). Supplier/nation/part broadcast; one fact
    shuffle for the orders join; decimal-exact money math. The cost
    product (2-dec price x integer qty) and the revenue product stay
    within DECIMAL(25,6), so the subtraction is exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    amount = _dec(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ) - _dec(F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.sum(amount).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


RETURNED_TOP_K = 20


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shaped returned-item report: top customers by revenue lost
    to returns (l_returnflag = 'R') in one order-date year. Revenue
    aggregates per customer (one keyed shuffle), the top-k is a
    distributed TakeOrdered with a deterministic custkey tie-break,
    and the customer/nation decoration joins AFTER the limit — k rows,
    broadcast side only.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).cast("double").alias("returned_revenue"))
    )
    w = Window.orderBy(F.col("returned_revenue").desc(), F.col("o_custkey"))
    top = (
        per_cust.orderBy(F.col("returned_revenue").desc(), F.col("o_custkey"))
        .limit(RETURNED_TOP_K)
        .withColumn("rank", F.row_number().over(w))
    )
    return (
        top.join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
            F.col("c_acctbal").alias("acct_balance"),
            "returned_revenue",
            "rank",
        )
    )


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shaped forecast: revenue given up to discounts in a band
    (1997 shipments, discount 5-7%, qty < 24). The canonical
    every-predicate-pushed single-scan aggregate: no join, no group —
    at 100 TB this reads only the row groups the filters and column
    pruning leave behind.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
            .cast("double")
            .alias("forecast_revenue_change"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped local supplier volume: revenue per nation where the
    customer and supplier sit in the SAME nation, restricted to one
    region and one order year.

    Scale shape: region/nation/customer/supplier are all broadcast, and
    every broadcast side is PRUNED to the target region before shipping
    — customer and supplier are semi-joined against the region's nation
    keys first, so only the ~1/5 regional slice is serialized to
    executors; the only shuffle is the lineitem⋈orders fact join, and
    the locality predicate (``c_nationkey == s_nationkey``) is
    evaluated map-side after the broadcasts, never as a join explosion.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    # Nation keys inside the target region only — prunes every
    # downstream broadcast to the region's slice.
    region_nations = (
        nation.join(
            region.filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    nation_keys = broadcast(region_nations.select("n_nationkey"))
    local_cust = cust.join(
        nation_keys, F.col("c_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    local_supp = supp.join(
        nation_keys, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    joined = (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(broadcast(local_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(local_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            broadcast(region_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shaped top supplier: per-supplier revenue over one quarter,
    returning the supplier(s) whose revenue equals the maximum.

    The max is a 1-row aggregate broadcast back over the tiny
    per-supplier rollup (scalar-subquery decorrelation, same pattern as
    supplier_value_concentration); equality is compared on the exact
    DECIMAL sums, not on doubles, so ties are engine-portable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    srev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum(rev).alias("_rev_exact"))
    )
    mx = srev.agg(F.max("_rev_exact").alias("_rev_max"))
    return (
        srev.join(broadcast(mx))
        .filter(F.col("_rev_exact") == F.col("_rev_max"))
        .join(broadcast(supp), "s_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev_exact").cast("double").alias("total_revenue"),
        )
    )


def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shaped supplier-variety count: distinct suppliers per
    (brand, type, size) over the observed part-supplier pairs, with a
    NOT-IN supplier blacklist (``s_suppkey % 7 == 0`` stands in for the
    reference benchmark's complaints predicate — the schema has no
    comment column).

    Scale shape: the part filter is a pruned broadcast; the blacklist is
    a broadcast anti-join; the only fact shuffle is the DISTINCT over
    (partkey, suppkey) pairs, which also feeds the count-distinct — the
    pair grid is already unique, so the final agg is a plain count.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    sizes = [1, 4, 7, 10, 14, 19, 25, 28]
    part_f = part.filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(sizes)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blacklist = supp.filter(F.col("s_suppkey") % 7 == 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(broadcast(blacklist), "l_suppkey", "left_anti")
        .distinct()
    )
    return (
        pairs.join(broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


QUERIES = {
    "forecast_revenue_change": q_forecast_revenue_change,
    "local_supplier_volume": q_local_supplier_volume,
    "top_revenue_supplier": q_top_revenue_supplier,
    "part_supplier_variety": q_part_supplier_variety,
    "product_profit": q_product_profit,
    "returned_item_revenue": q_returned_item_revenue,
    "customer_order_distribution": q_customer_order_distribution,
    "promo_revenue_share": q_promo_revenue_share,
    "nation_trade_flows": q_nation_trade_flows,
    "late_shipment_priority_mix": q_late_shipment_priority_mix,
    "supplier_value_concentration": q_supplier_value_concentration,
    "exclusive_late_suppliers": q_exclusive_late_suppliers,
    "idle_rich_customers": q_idle_rich_customers,
    "dominant_part_suppliers": q_dominant_part_suppliers,
    "revenue_pivot_by_segment": q_revenue_pivot_by_segment,
    "disjunctive_revenue": q_disjunctive_revenue,
    "shipping_priority": q_shipping_priority,
    "nation_market_share": q_nation_market_share,
    "cheapest_supplier_per_part": q_cheapest_supplier_per_part,
    "small_qty_revenue": q_small_qty_revenue,
    "q1_pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_customers": q_top_customers,
    "monthly_orders": q_monthly_orders,
    "segment_summary": q_segment_summary,
    "part_type_share": q_part_type_share,
    "order_priority_count": q_order_priority_count,
    "high_value_orders": q_high_value_orders,
    "star_flagship": q_star_flagship,
}

ORACLE = {
    "local_supplier_volume": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND s_nationkey = c_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "top_revenue_supplier": """
        WITH srev AS (
            SELECT l_suppkey AS s_suppkey,
                   sum(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(25,6))) AS rev_exact
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(r.rev_exact AS DOUBLE) AS total_revenue
        FROM srev r
        JOIN supplier s ON r.s_suppkey = s.s_suppkey
        WHERE r.rev_exact = (SELECT max(rev_exact) FROM srev)
    """,
    "part_supplier_variety": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 7, 10, 14, 19, 25, 28)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
        GROUP BY p_brand, p_type, p_size
    """,
    "forecast_revenue_change": """
        SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
                    AS DOUBLE) AS forecast_revenue_change,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "product_profit": """
        SELECT n_name AS nation_name,
               year(o_orderdate) AS order_year,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
                        - CAST(p_retailprice * l_quantity AS DECIMAL(25,6)))
                    AS DOUBLE) AS profit,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    """,
    "returned_item_revenue": f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                                 AS DECIMAL(25,6))) AS DOUBLE) AS returned_revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate < TIMESTAMP '1999-01-01'
            GROUP BY 1
        ),
        top AS (
            SELECT o_custkey, returned_revenue,
                   CAST(row_number() OVER (
                       ORDER BY returned_revenue DESC, o_custkey
                   ) AS INTEGER) AS rank
            FROM per_cust
            ORDER BY returned_revenue DESC, o_custkey
            LIMIT {RETURNED_TOP_K}
        )
        SELECT o_custkey AS customer_id,
               c_name AS customer_name,
               n_name AS nation_name,
               c_acctbal AS acct_balance,
               returned_revenue,
               rank
        FROM top
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    """,
    "customer_order_distribution": """
        SELECT n_orders, count(*) AS n_customers
        FROM (
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY 1
        )
        GROUP BY 1
    """,
    "promo_revenue_share": """
        SELECT
            CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) AS promo_revenue,
            CAST(sum(rev) AS DOUBLE) AS total_revenue,
            100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                / CAST(sum(rev) AS DOUBLE) AS promo_share_pct
        FROM (
            SELECT p_type,
                   CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6)) AS rev
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
        )
    """,
    "nation_trade_flows": """
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               year(l_shipdate) AS ship_year,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY 1, 2, 3
    """,
    "late_shipment_priority_mix": """
        SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 'late' ELSE 'ontime' END AS ship_class,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS normal_lines,
               count(*) AS total_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """,
    "supplier_value_concentration": """
        WITH per_supp AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS rev_dec
            FROM lineitem GROUP BY 1
        ),
        stats AS (
            SELECT CAST(sum(rev_dec) AS DOUBLE) / count(*) AS avg_rev,
                   CAST(sum(rev_dec) AS DOUBLE) AS total_rev
            FROM per_supp
        )
        SELECT l_suppkey AS supplier_id,
               s_name AS supplier_name,
               CAST(rev_dec AS DOUBLE) AS revenue,
               100.0 * CAST(rev_dec AS DOUBLE) / total_rev AS share_pct
        FROM per_supp, stats
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE CAST(rev_dec AS DOUBLE) > 1.1 * avg_rev
    """,
    "exclusive_late_suppliers": """
        WITH per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                       THEN l_suppkey END) AS n_late_supp,
                   min(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                            THEN l_suppkey END) AS late_supp
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        )
        SELECT late_supp AS supplier_id,
               s_name AS supplier_name,
               count(*) AS n_charged_orders
        FROM per_order
        JOIN supplier ON late_supp = s_suppkey
        WHERE n_supp > 1 AND n_late_supp = 1
        GROUP BY 1, 2
    """,
    "idle_rich_customers": """
        WITH avg_bal AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT n_name AS nation_name,
               count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal
        FROM customer, avg_bal
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY 1
    """,
    "dominant_part_suppliers": """
        WITH pair AS (
            SELECT l_suppkey, l_partkey,
                   sum(CAST(l_quantity AS DECIMAL(25,6))) AS qty_dec
            FROM lineitem GROUP BY 1, 2
        ),
        part_tot AS (
            SELECT l_partkey, sum(qty_dec) AS part_qty_dec
            FROM pair GROUP BY 1
        )
        SELECT p.l_suppkey AS supplier_id,
               s_name AS supplier_name,
               count(*) AS n_dominant_parts
        FROM pair p
        JOIN part_tot t ON p.l_partkey = t.l_partkey
        JOIN supplier ON p.l_suppkey = s_suppkey
        WHERE CAST(qty_dec AS DOUBLE) > 0.1 * CAST(part_qty_dec AS DOUBLE)
        GROUP BY 1, 2
    """,
    "revenue_pivot_by_segment": """
        SELECT n_name AS nation_name,
               CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                             THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE)
                   AS rev_automobile,
               CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
                             THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE)
                   AS rev_building,
               CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE'
                             THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE)
                   AS rev_furniture,
               CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'
                             THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE)
                   AS rev_household,
               CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'
                             THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS DOUBLE)
                   AS rev_machinery
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    """,
    "disjunctive_revenue": """
        SELECT count(*) AS n_lines,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
           OR (p_type = 'STANDARD' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 5 AND 35)
           OR (p_brand = 'Brand#1' AND l_quantity >= 25)
    """,
    "shipping_priority": """
        SELECT o_orderkey AS order_id,
               CAST(o_orderdate AS DATE) AS order_date,
               o_orderpriority AS order_priority,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
          AND o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
          AND c_mktsegment = 'BUILDING'
        GROUP BY 1, 2, 3
        ORDER BY sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) DESC, o_orderkey
        LIMIT 10
    """,
    "nation_market_share": """
        SELECT region_name, order_year, nation_name,
               CAST(rev_dec AS DOUBLE) AS revenue,
               100.0 * CAST(rev_dec AS DOUBLE)
                     / CAST(sum(rev_dec) OVER (PARTITION BY region_name, order_year) AS DOUBLE)
                 AS share_pct
        FROM (
            SELECT r_name AS region_name,
                   year(o_orderdate) AS order_year,
                   n_name AS nation_name,
                   sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS rev_dec
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2, 3
        )
    """,
    "cheapest_supplier_per_part": """
        SELECT l_partkey AS part_id, l_suppkey AS supplier_id, avg_price, n_lines
        FROM (
            SELECT l_partkey, l_suppkey, avg_price, n_lines,
                   row_number() OVER (
                       PARTITION BY l_partkey ORDER BY avg_price, l_suppkey
                   ) AS rn
            FROM (
                SELECT l_partkey, l_suppkey,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
                         / count(*) AS avg_price,
                       count(*) AS n_lines
                FROM lineitem
                GROUP BY 1, 2
            )
        )
        WHERE rn = 1
    """,
    "small_qty_revenue": """
        SELECT count(*) AS n_small_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS small_revenue,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem
        JOIN (
            SELECT l_partkey AS pk,
                   CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_qty
            FROM lineitem
            GROUP BY 1
        ) ON l_partkey = pk
        WHERE l_quantity < 0.5 * avg_qty
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": """
        SELECT n_name AS nation_name,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               count(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY n_name
    """,
    "top_customers": """
        SELECT o_custkey AS customer_id,
               c_name AS customer_name,
               CAST(rev_dec AS DOUBLE) AS revenue,
               n_orders,
               CAST(row_number() OVER (ORDER BY rev_dec DESC, o_custkey) AS INTEGER) AS rank
        FROM (
            SELECT o_custkey,
                   sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        JOIN customer ON o_custkey = c_custkey
        ORDER BY rev_dec DESC, o_custkey
        LIMIT 10
    """,
    "monthly_orders": """
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders
        GROUP BY 1
    """,
    "segment_summary": """
        SELECT c_mktsegment AS segment,
               count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_acctbal,
               min(c_acctbal) AS min_acctbal,
               max(c_acctbal) AS max_acctbal
        FROM customer
        GROUP BY 1
    """,
    "part_type_share": """
        SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
                             ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) AS promo_revenue,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue,
               100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
                             ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
                 AS promo_share_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
    """,
    "order_priority_count": """
        SELECT o_orderpriority AS order_priority,
               count(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
        )
        GROUP BY 1
    """,
    "high_value_orders": """
        SELECT o_orderkey AS order_id,
               o_custkey AS customer_id,
               o_totalprice AS total_price,
               CAST(qty_dec AS DOUBLE) AS sum_qty
        FROM (
            SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(25,6))) AS qty_dec
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 250
        )
        JOIN orders ON l_orderkey = o_orderkey
    """,
    "star_flagship": """
        SELECT r_name AS region_name,
               year(o_orderdate) AS order_year,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty,
               count(*) AS n_lineitems,
               count(DISTINCT o_custkey) AS n_customers
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
}


# ---------------------------------------------------------------------------
# ABC / Pareto classification via a distributed prefix-sum.

ABC_A_SHARE = 0.80
ABC_B_SHARE = 0.95
ABC_BAND_W = 10_000.0


def q_part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: class A = parts
    up to the 80% cumulative-revenue boundary, B to 95%, C the tail —
    the assortment-rationalization rollup every retailer runs.

    The scale problem is the GLOBAL revenue prefix-sum (a naive
    cumulative window is one hot partition sorting every part); here
    it is the two-phase distributed prefix-sum, the running-total
    generalization of `shard_serpentine`'s two-phase rank: parts
    bucket into revenue BANDS (floor(rev/W) — any monotone banding is
    result-equal, so the band edges need no cross-engine agreement),
    the per-band totals aggregate map-side, cumulative band offsets
    are a window over the SMALL band grid only (broadcast back), and
    each part's prefix-sum = its band offset + a running sum windowed
    WITHIN its band. A part enters A/B if it STARTS before the
    boundary (the crossing part is included — deterministic), compared
    in doubles derived from the same DECIMAL sums in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            _dec(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).alias("rev")
    )
    banded = rev.withColumn(
        "band",
        F.floor(F.col("rev").cast("double") / F.lit(ABC_BAND_W)).cast(
            "bigint"
        ),
    )
    grid = banded.groupBy("band").agg(F.sum("rev").alias("band_rev"))
    wg = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = grid.select(
        "band",
        F.coalesce(
            F.sum("band_rev").over(wg), F.lit(0).cast("decimal(25,6)")
        ).alias("off"),
    )
    wb = (
        Window.partitionBy("band")
        .orderBy(F.col("rev").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = banded.join(broadcast(offsets), "band").withColumn(
        "cum", F.col("off") + F.sum("rev").over(wb)
    )
    total = rev.agg(F.sum("rev").alias("total"))
    start = (F.col("cum") - F.col("rev")).cast("double")
    tot_d = F.col("total").cast("double")
    classed = cum.crossJoin(broadcast(total)).withColumn(
        "abc_class",
        F.when(start < ABC_A_SHARE * tot_d, F.lit("A"))
        .when(start < ABC_B_SHARE * tot_d, F.lit("B"))
        .otherwise(F.lit("C")),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").alias("_crev"),
            F.max("total").alias("_tot"),
        )
        .select(
            "abc_class",
            "n_parts",
            fround(F.col("_crev").cast("double"), 2).alias("class_revenue"),
            fround(
                F.col("_crev").cast("double") / F.col("_tot").cast("double"), 6).alias("revenue_share"),
        )
    )


QUERIES["part_abc_classes"] = q_part_abc_classes

ORACLE["part_abc_classes"] = f"""
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(25,6))) AS rev
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(rev) AS total FROM rev),
    cum AS (
        SELECT l_partkey, rev,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM rev
    ),
    classed AS (
        SELECT rev, total,
               CASE WHEN CAST(cum - rev AS DOUBLE)
                         < {ABC_A_SHARE!r} * CAST(total AS DOUBLE) THEN 'A'
                    WHEN CAST(cum - rev AS DOUBLE)
                         < {ABC_B_SHARE!r} * CAST(total AS DOUBLE) THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM cum, tot
    )
    SELECT abc_class, count(*) AS n_parts,
           floor((CAST(sum(rev) AS DOUBLE)) * 1e2 + 0.5) / 1e2 AS class_revenue,
           floor((CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS revenue_share
    FROM classed GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Differentially-private aggregate release (Laplace mechanism).

DP_EPSILON = 1.0
DP_CLIP = 50_000.0
_DP_SALT = "dp|"


def q_dp_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epsilon-differentially-private per-nation revenue release via
    the Laplace mechanism (Dwork et al., TCC 2006): each line item's
    revenue contribution is CLIPPED to ``DP_CLIP`` (bounding any one
    record's influence — the sensitivity), the clipped sums get
    Laplace(DP_CLIP / epsilon) noise, and only the noisy totals leave
    the system — the aggregate-release pattern for sharing statistics
    over data whose row grain is sensitive.

    The noise is the usual inverse-CDF transform of a uniform,
    -b*sign(u)*ln(1-2|u|), but the uniform is HASH-derived from the
    release key (md5 slice — the repo's no-RNG discipline), which
    makes the release deterministic, testable, and oracle-checkable.
    A production release would swap ONLY the uniform for a secure RNG
    (one expression); everything else — clipping, sensitivity
    accounting, the mechanism — is exactly what ships. Plan: clip is
    map-side, one broadcast-dim join, one map-combinable DECIMAL agg,
    noise applied to the |nations|-row result.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.least(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
        F.lit(DP_CLIP),
    )
    clipped = (
        li.select("l_orderkey", _dec(rev).alias("crev"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.sum("crev").alias("crev"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_DP_SALT), F.col("n_name"))), 1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(0x100000000 + 1))
    v = u - F.lit(0.5)
    b = DP_CLIP / DP_EPSILON
    noise = -F.lit(b) * F.signum(v) * F.log(
        F.lit(1.0) - 2.0 * F.abs(v)
    )
    # The column is named _demo and the mechanism column says so in the
    # OUTPUT, not just this docstring: the hash-derived noise is
    # recomputable from the public release key, so this release is a
    # mechanism demo with zero actual privacy. A real release swaps the
    # uniform for a secure RNG and may then drop the _demo suffix.
    return clipped.select(
        F.col("n_name").alias("nation_name"),
        fround(F.col("crev").cast("double") + noise, 2).alias(
            "dp_revenue_demo"
        ),
        F.lit(DP_EPSILON).alias("epsilon"),
        F.lit("laplace-deterministic-demo-not-private").alias("mechanism"),
    )


QUERIES["dp_revenue_by_nation"] = q_dp_revenue_by_nation

ORACLE["dp_revenue_by_nation"] = f"""
    WITH clipped AS (
        SELECT n_name,
               sum(CAST(least(l_extendedprice * (1.0 - l_discount),
                              {DP_CLIP!r}) AS DECIMAL(25,6))) AS crev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    ),
    noised AS (
        SELECT n_name, crev,
               ((CAST(CAST('0x' || substring(
                     md5('{_DP_SALT}' || n_name), 1, 8)
                     AS UBIGINT) AS DOUBLE) + 1.0)
                / {float(0x100000000 + 1)!r}) - 0.5 AS v
        FROM clipped
    )
    SELECT n_name AS nation_name,
           floor((CAST(crev AS DOUBLE)
                 + (-{DP_CLIP / DP_EPSILON!r}) * sign(v)
                   * ln(1.0 - 2.0 * abs(v))) * 1e2 + 0.5) / 1e2 AS dp_revenue_demo,
           CAST({DP_EPSILON!r} AS DOUBLE) AS epsilon,
           'laplace-deterministic-demo-not-private' AS mechanism
    FROM noised
"""


# ---------------------------------------------------------------------------
# Per-brand price elasticity of demand: grouped log-log OLS.

ELASTICITY_MIN_OBS = 30  # brands with fewer observations are not reported


def q_brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part BRAND: the OLS slope of
    ln(quantity) on ln(unit price) over every lineitem observation of
    the brand — the classic log-log demand regression (slope reads
    directly as % quantity change per % price change), plus intercept
    and R² so a flat-R² brand is visibly "no price signal" rather than
    silently elastic. The GROUPED-regression complement of
    text_zipf_fit's single global OLS: one closed-form fit per brand,
    all 25 fits from ONE aggregation pass.

    Scale shape: lineitem joins the part dim broadcast (brand lookup
    only — two columns pruned from the dim scan), per-row ln() values
    are 6-dp floor-staged doubles (libm vs java.lang.Math differ by
    ulps — the zipf/unigram discipline), and the shared staged OLS
    kernel (``functions/ols.py``) stages their products to 9 dp into
    DECIMAL(28,9) sums, so the whole regression reduces to one
    map-combinable groupBy over ~25 brand rows: n, Σx, Σy, Σxx, Σxy,
    Σyy. The closed forms run on the tiny brand grid; guarded
    degenerate denominators (zero x-variance → slope/intercept/r2 all
    0.0, the zipf convention); brands under ELASTICITY_MIN_OBS
    observations are dropped (a 3-point regression is noise, and the
    threshold keeps the output stable under tiny-SF resampling).
    Unit price is l_extendedprice / l_quantity, both exact parquet
    doubles, divided identically in both engines before the ln.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brands = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    x6 = fround(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6
    )
    y6 = fround(F.log(F.col("l_quantity")), 6)

    sums = (
        li.join(broadcast(brands), "l_partkey")
        .select("p_brand", x6.alias("x6"), y6.alias("y6"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"), *ols_sums())
        .where(F.col("n_obs") >= ELASTICITY_MIN_OBS)
    )
    cov, varx, vary, slope, intercept = ols_fit("n_obs")
    return sums.select(
        "p_brand",
        "n_obs",
        F.when(varx > 0, fround(slope, 6)).otherwise(F.lit(0.0)).alias(
            "elasticity"
        ),
        F.when(varx > 0, fround(intercept, 6))
        .otherwise(F.lit(0.0))
        .alias("intercept"),
        F.when((varx > 0) & (vary > 0), fround((cov * cov) / (varx * vary), 6))
        .otherwise(F.lit(0.0))
        .alias("r2"),
    )


QUERIES["brand_price_elasticity"] = q_brand_price_elasticity

ORACLE["brand_price_elasticity"] = f"""
    WITH staged AS (
        SELECT p_brand,
               floor((ln(l_extendedprice / l_quantity)) * 1e6 + 0.5) / 1e6
                   AS x6,
               floor((ln(l_quantity)) * 1e6 + 0.5) / 1e6 AS y6
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    s AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CAST(x6 AS DECIMAL(25,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y6 AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(floor((x6 * x6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(floor((x6 * y6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(floor((y6 * y6) * 1e9 + 0.5) / 1e9
                             AS DECIMAL(28,9))) AS DOUBLE) AS syy
        FROM staged
        GROUP BY 1
        HAVING count(*) >= {ELASTICITY_MIN_OBS}
    )
    SELECT p_brand, n_obs,
           CASE WHEN (CAST(n_obs AS DOUBLE) * sxx - sx * sx) > 0
                THEN floor(((CAST(n_obs AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n_obs AS DOUBLE) * sxx - sx * sx))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS elasticity,
           CASE WHEN (CAST(n_obs AS DOUBLE) * sxx - sx * sx) > 0
                THEN floor(((sy - ((CAST(n_obs AS DOUBLE) * sxy - sx * sy)
                                   / (CAST(n_obs AS DOUBLE) * sxx - sx * sx))
                                  * sx) / CAST(n_obs AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS intercept,
           CASE WHEN (CAST(n_obs AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n_obs AS DOUBLE) * syy - sy * sy) > 0
                THEN floor((((CAST(n_obs AS DOUBLE) * sxy - sx * sy)
                             * (CAST(n_obs AS DOUBLE) * sxy - sx * sy))
                            / ((CAST(n_obs AS DOUBLE) * sxx - sx * sx)
                               * (CAST(n_obs AS DOUBLE) * syy - sy * sy)))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS r2
    FROM s
"""


def q_supplier_leadtime_profile(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Per-supplier fulfilment lead-time percentile profile: the days
    between an order's placement and each line's ship date, summarized
    as exact linear-interpolation percentiles (p25/p50/p75/p90) plus
    count/mean/extrema — the SLA-monitoring surface a buyer reads to
    rank suppliers.

    Scale shape: lead time needs the one fact-fact join in the schema
    (lineitem x orders on orderkey) — at 100 TB that is a co-partition
    shuffle on the join key (or free with orderkey-bucketed tables —
    ``bucketed_fact_join`` demonstrates the layout); the supplier dim
    joins BROADCAST after the per-supplier collapse. Exact percentiles
    hold one supplier's lead-time list in the aggregation buffer —
    bounded by items-per-supplier (~600 at any SF here); ``approx=
    True`` is the fixed-memory scale path (t-digest-style
    approx_percentile sketches, partial-combining) for skewed supplier
    catalogs — under the flag the p25/p50/p75/p90 columns are
    SKETCH-APPROXIMATE, not oracle-parity, so the driver contract
    (and the oracle below) bind only the default exact form, same as
    the other ``approx``-flag entries. Determinism: lead days are exact integers (date diff),
    the mean is an exact BIGINT sum over a BIGINT count, and the
    interpolated percentiles are single IEEE doubles on integer ranks
    — identical in any engine; 6-dp floor-staged."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    lead = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_suppkey",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).cast("bigint").alias("d"),
    )
    if approx:
        pctl = lambda p: F.expr(  # noqa: E731
            f"approx_percentile(d, {p}, 10000)"
        ).cast("double")
    else:
        pctl = lambda p: F.expr(f"percentile(d, {p})")  # noqa: E731
    prof = lead.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        fround(
            F.sum("d").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_days"),
        F.min("d").cast("bigint").alias("min_days"),
        fround(pctl(0.25), 6).alias("p25"),
        fround(pctl(0.5), 6).alias("p50"),
        fround(pctl(0.75), 6).alias("p75"),
        fround(pctl(0.9), 6).alias("p90"),
        F.max("d").cast("bigint").alias("max_days"),
    )
    return prof.join(broadcast(supplier),
                     prof.l_suppkey == supplier.s_suppkey).select(
        "s_suppkey", "s_name", "n_items", "avg_days", "min_days",
        "p25", "p50", "p75", "p90", "max_days",
    )


QUERIES["supplier_leadtime_profile"] = q_supplier_leadtime_profile

ORACLE["supplier_leadtime_profile"] = """
    WITH lead AS (
        SELECT l_suppkey,
               CAST(datediff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) AS BIGINT) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    prof AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_items,
               floor((CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS avg_days,
               CAST(min(d) AS BIGINT) AS min_days,
               floor(quantile_cont(d, 0.25) * 1e6 + 0.5) / 1e6 AS p25,
               floor(quantile_cont(d, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
               floor(quantile_cont(d, 0.75) * 1e6 + 0.5) / 1e6 AS p75,
               floor(quantile_cont(d, 0.9) * 1e6 + 0.5) / 1e6 AS p90,
               CAST(max(d) AS BIGINT) AS max_days
        FROM lead GROUP BY 1
    )
    SELECT s_suppkey, s_name, n_items, avg_days, min_days,
           p25, p50, p75, p90, max_days
    FROM prof JOIN supplier ON l_suppkey = s_suppkey
"""


KS_ALPHA_COEFF = 1.358  # two-sample KS critical coefficient at alpha=0.05


def q_leadtime_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier two-sample Kolmogorov-Smirnov drift test on
    fulfilment lead times: split each supplier's shipped lines at the
    GLOBAL midpoint order date into an early and a late sample and
    compute D = max |F_early(x) - F_late(x)| over the merged support —
    the distribution-free data-drift detector (did this supplier's
    latency DISTRIBUTION change, not merely its mean — a mean-stable
    variance blowup is invisible to the lead-time profile, and this is
    the standard screen a pipeline QC tier runs per segment). The
    drifted flag compares D against the alpha=0.05 critical value
    1.358 * sqrt((n1+n2)/(n1*n2)).

    Scale shape: the fact-fact join collapses to the (supplier,
    lead-day, half) COUNT grid in one aggregate (bounded by suppliers
    x distinct lead days, not fact rows); the ECDF difference is one
    cumulative window per supplier ORDERED BY lead day (partition
    bounded by the supplier's distinct lead days, ~130 here); the max
    is a map-combinable per-supplier aggregate. Determinism: the KS
    statistic is found as an exact INTEGER maximum — D = max |c1*n2 -
    c2*n1| / (n1*n2) with all counts BIGINT, so the argmax can never
    tie-break differently across engines — and only the final
    division and the critical-value comparison are doubles (fixed
    IEEE expressions on exact ints), 6-dp staged."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    od = F.to_date("o_orderdate")
    # midpoint via INTEGER floor division on both sides: Spark's
    # cast-to-int truncates while DuckDB's CAST rounds half-to-even,
    # so a float midpoint would split the halves differently whenever
    # the span is odd (span % 4 == 3 flips day span//2 + 1)
    bounds = orders.agg(
        F.min(od).alias("lo"), F.max(od).alias("hi")
    ).select(
        F.floor(F.datediff("hi", "lo") / F.lit(2))
        .cast("int")
        .alias("half_span"),
        "lo",
    )
    lead = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .crossJoin(F.broadcast(bounds))
        .select(
            "l_suppkey",
            F.datediff(F.to_date("l_shipdate"), od)
            .cast("bigint")
            .alias("d"),
            (F.datediff(od, F.col("lo")) <= F.col("half_span"))
            .alias("early"),
        )
    )
    grid = lead.groupBy("l_suppkey", "d").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("early"), 0).otherwise(1))
        .cast("bigint")
        .alias("c2"),
    )
    w = Window.partitionBy("l_suppkey")
    wcum = w.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "l_suppkey",
        F.sum("c1").over(wcum).cast("bigint").alias("f1"),
        F.sum("c2").over(wcum).cast("bigint").alias("f2"),
        F.sum("c1").over(w).cast("bigint").alias("n1"),
        F.sum("c2").over(w).cast("bigint").alias("n2"),
    )
    diff = F.abs(
        F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
    )
    per_supp = (
        cum.groupBy("l_suppkey")
        .agg(
            F.max(diff).cast("bigint").alias("_num"),
            F.max("n1").cast("bigint").alias("n_early"),
            F.max("n2").cast("bigint").alias("n_late"),
        )
        .filter((F.col("n_early") > 0) & (F.col("n_late") > 0))
    )
    n1d = F.col("n_early").cast("double")
    n2d = F.col("n_late").cast("double")
    ks = F.col("_num").cast("double") / (n1d * n2d)
    crit = F.lit(KS_ALPHA_COEFF) * F.sqrt((n1d + n2d) / (n1d * n2d))
    return per_supp.select(
        F.col("l_suppkey").alias("s_suppkey"),
        "n_early",
        "n_late",
        fround(ks, 6).alias("ks_stat"),
        fround(crit, 6).alias("ks_crit"),
        (ks > crit).alias("drifted"),
    )


QUERIES["leadtime_drift_ks"] = q_leadtime_drift_ks

ORACLE["leadtime_drift_ks"] = f"""
    WITH bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS lo,
               CAST(datediff('day', min(CAST(o_orderdate AS DATE)),
                             max(CAST(o_orderdate AS DATE))) // 2
                    AS INTEGER) AS half_span
        FROM orders
    ),
    lead AS (
        SELECT l_suppkey,
               CAST(datediff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
               datediff('day', lo, CAST(o_orderdate AS DATE))
                   <= half_span AS early
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        CROSS JOIN bounds
    ),
    grid AS (
        SELECT l_suppkey, d,
               CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT)
                   AS c2
        FROM lead GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_suppkey,
               CAST(sum(c1) OVER (PARTITION BY l_suppkey ORDER BY d
                                  ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS f1,
               CAST(sum(c2) OVER (PARTITION BY l_suppkey ORDER BY d
                                  ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS f2,
               CAST(sum(c1) OVER (PARTITION BY l_suppkey) AS BIGINT)
                   AS n1,
               CAST(sum(c2) OVER (PARTITION BY l_suppkey) AS BIGINT)
                   AS n2
        FROM grid
    ),
    per_supp AS (
        SELECT l_suppkey,
               CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS num,
               CAST(max(n1) AS BIGINT) AS n_early,
               CAST(max(n2) AS BIGINT) AS n_late
        FROM cum GROUP BY 1
        HAVING max(n1) > 0 AND max(n2) > 0
    )
    SELECT l_suppkey AS s_suppkey, n_early, n_late,
           floor((CAST(num AS DOUBLE)
                  / (CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS ks_stat,
           floor(({KS_ALPHA_COEFF}
                  * sqrt((CAST(n_early AS DOUBLE)
                          + CAST(n_late AS DOUBLE))
                         / (CAST(n_early AS DOUBLE)
                            * CAST(n_late AS DOUBLE))))
                 * 1e6 + 0.5) / 1e6 AS ks_crit,
           CAST(num AS DOUBLE)
               / (CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE))
               > {KS_ALPHA_COEFF}
                 * sqrt((CAST(n_early AS DOUBLE)
                         + CAST(n_late AS DOUBLE))
                        / (CAST(n_early AS DOUBLE)
                           * CAST(n_late AS DOUBLE))) AS drifted
    FROM per_supp
"""


def q_nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue per
    nation: HHI = sum over a nation's suppliers of (share * 10000)^2
    normalized — the antitrust-standard concentration index (U.S.
    DOJ/FTC merger-guidelines scale: < 1500 unconcentrated, > 2500
    highly concentrated), resolving what `supplier_value_concentration`
    thresholds into a single comparable score per market; emitted with
    the top supplier's share and the published concentration band.

    Scale shape: the fact collapses to the (nation, supplier) revenue
    grid in one aggregate (supplier dim joins BROADCAST), then one
    nation-grain rollup; nothing grows past the supplier count.
    Determinism: revenues are exact DECIMAL sums; shares and HHI are
    IEEE expressions on the decimal-to-double casts, with per-supplier
    share terms 6-dp staged and DECIMAL-summed (the chi2 discipline);
    the band cut is a comparison on the staged sum."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (
        li.join(
            broadcast(supplier), li.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.sum(
                _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("rev")
        )
    )
    totals = rev.groupBy("s_nationkey").agg(
        F.sum("rev").cast(DEC).alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.max("rev").cast(DEC).alias("top_rev"),
    )
    share = F.col("rev").cast("double") / F.col("total").cast("double")
    term = fround(share * share * F.lit(10_000.0), 6).cast(
        "decimal(25,6)"
    )
    # term = share^2 * 10000 (the 0..10000 HHI scale), staged per
    # supplier then DECIMAL-summed
    hhi_rows = (
        rev.join(totals, "s_nationkey")
        .groupBy("s_nationkey")
        .agg(F.sum(term).alias("_hhi"))
    )
    hhi = F.col("_hhi").cast("double")
    out = (
        hhi_rows.join(totals, "s_nationkey")
        .join(
            broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            F.col("total").cast("double").alias("revenue"),
            fround(
                F.col("top_rev").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("top_share"),
            fround(hhi, 6).alias("hhi"),
            F.when(hhi < 1500, F.lit("unconcentrated"))
            .when(hhi <= 2500, F.lit("moderate"))
            .otherwise(F.lit("high"))
            .alias("band"),
        )
    )
    return out


QUERIES["nation_supplier_hhi"] = q_nation_supplier_hhi

ORACLE["nation_supplier_hhi"] = """
    WITH rev AS (
        SELECT s_nationkey, s_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(25,6))) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT s_nationkey,
               CAST(sum(rev) AS DECIMAL(25,6)) AS total,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(max(rev) AS DECIMAL(25,6)) AS top_rev
        FROM rev GROUP BY 1
    ),
    hhi_rows AS (
        SELECT rev.s_nationkey,
               sum(CAST(floor(
                   ((CAST(rev AS DOUBLE) / CAST(total AS DOUBLE))
                    * (CAST(rev AS DOUBLE) / CAST(total AS DOUBLE))
                    * 10000.0)
                   * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6))) AS hhi_dec
        FROM rev JOIN totals ON rev.s_nationkey = totals.s_nationkey
        GROUP BY 1
    )
    SELECT n_name AS nation, n_suppliers,
           CAST(total AS DOUBLE) AS revenue,
           floor((CAST(top_rev AS DOUBLE) / CAST(total AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS top_share,
           floor(CAST(hhi_dec AS DOUBLE) * 1e6 + 0.5) / 1e6 AS hhi,
           CASE WHEN CAST(hhi_dec AS DOUBLE) < 1500 THEN 'unconcentrated'
                WHEN CAST(hhi_dec AS DOUBLE) <= 2500 THEN 'moderate'
                ELSE 'high' END AS band
    FROM hhi_rows
    JOIN totals ON hhi_rows.s_nationkey = totals.s_nationkey
    JOIN nation ON hhi_rows.s_nationkey = n_nationkey
"""
