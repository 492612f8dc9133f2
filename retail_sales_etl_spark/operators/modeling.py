"""Transform Phase-2 (Model): analytics-ready dims and facts.

Spark-first re-expression of the reference model layer
(/root/reference/etl/transform_data_modeling.py). The reference builds
customers/products/stores dims and a sales fact from retail CSVs; this
engine re-targets the same derivations at the testdata star schema:

- customer_dim  <- customers_dim  (name parse, balance band, geo join)
- part_dim      <- products_dim   (price band, premium flag, normalize)
- supplier_dim  <- stores_dim     (geo/region attributes via dim join)
- date_dim      <- date_dim       (calendar spine from fact date range)
- sales_fact    <- sales_fact     (per-row derived measures and flags)

Scale posture: dim builders join only small tables (broadcast — zero
fact shuffle); sales_fact is pure per-row projection (no shuffle at
all); date_dim aggregates the fact to 1 row then explodes a sequence.
All derived expressions are Catalyst/codegen — no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.retail import price_band, weekday_mon0, year_month


def build_customer_dim(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Customer dimension (reference customers_dim, modeling.py:44).

    Derivations mirror full_name / email_domain / tenure-bucket style
    attributes: parsed key from the name, normalized segment, balance
    band, and geo rollup via broadcast nation/region joins.
    """
    return (
        customer.join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            # c_name is 'Customer#000000042' — parse the numeric suffix
            # (the reference's full-name/email-domain string parsing).
            F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("customer_num"),
            F.upper(F.col("c_mktsegment")).alias("segment_normalized"),
            F.col("c_acctbal").alias("acctbal"),
            price_band(F.col("c_acctbal"), 1000.0, 5000.0).alias("acctbal_band"),
            (F.col("c_acctbal") > 5000.0).alias("is_premium_customer"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


def build_part_dim(part: DataFrame) -> DataFrame:
    """Part dimension (reference products_dim, modeling.py:83)."""
    return part.select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_brand").alias("brand"),
        F.upper(F.col("p_type")).alias("type_normalized"),
        F.col("p_size").alias("part_size"),
        F.col("p_retailprice").alias("retail_price"),
        price_band(F.col("p_retailprice")).alias("price_band"),
        (F.col("p_retailprice") > 2000.0).alias("is_premium_product"),
    )


def build_supplier_dim(
    supplier: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Supplier dimension (reference stores_dim, modeling.py:112).

    The reference maps store state -> region and flags metro cities; here
    the geography comes from the nation/region dims (broadcast joins) and
    the flag is a top-region membership test.
    """
    metro_regions = ("ASIA", "EUROPE")
    return (
        supplier.join(broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("s_acctbal").alias("acctbal"),
            F.upper(F.col("n_name")).alias("nation_normalized"),
            F.col("r_name").alias("supplier_region"),
            F.col("r_name").isin(*metro_regions).alias("is_metro_region"),
        )
    )


def date_spine(df: DataFrame, date_col: str) -> DataFrame:
    """Calendar spine over ``df``'s ``date_col`` range: aggregate to one
    row (min/max), explode a date sequence, derive calendar attributes.
    The only wide op is the 1-row agg. ``build_date_dim`` runs it over
    the orders, ``retail_compat.build_date_dim`` over the sale dates."""
    bounds = df.agg(
        F.min(F.to_date(date_col)).alias("mn"),
        F.max(F.to_date(date_col)).alias("mx"),
    )
    spine = bounds.select(F.explode(F.sequence("mn", "mx")).alias("date"))
    return spine.select(
        F.col("date"),
        F.year("date").alias("year"),
        F.month("date").alias("month"),
        year_month(F.col("date")).alias("year_month"),
        weekday_mon0(F.col("date")).alias("day_of_week"),
        weekday_mon0(F.col("date")).isin(5, 6).alias("is_weekend"),
        F.quarter("date").alias("quarter"),
    )


def build_date_dim(orders: DataFrame) -> DataFrame:
    """Calendar spine over the fact's date range (modeling.py:191):
    ``date_spine`` over ``o_orderdate``."""
    return date_spine(orders, "o_orderdate")


def build_sales_fact(lineitem: DataFrame) -> DataFrame:
    """Sales fact with derived measures (reference sales_fact, modeling.py:154).

    gross/discount/net/tax amounts, discount flag, order year/month —
    pure per-row projection: zero shuffle, fully codegen'd, and the
    parquet scan reads only the referenced columns.
    """
    gross = F.col("l_extendedprice")
    discount_amount = F.col("l_extendedprice") * F.col("l_discount")
    net = gross - discount_amount
    return lineitem.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_quantity").alias("quantity"),
        # Raw double arithmetic: per-row IEEE ops are bit-identical across
        # engines, so no rounding is needed (or wanted) here.
        gross.alias("gross_amount"),
        discount_amount.alias("discount_amount"),
        net.alias("net_amount"),
        (net * F.col("l_tax")).alias("tax_amount"),
        (F.col("l_discount") > 0.0).alias("is_discounted"),
        F.year("l_shipdate").alias("order_year"),
        year_month(F.col("l_shipdate")).alias("order_month"),
    )


def pk_integrity_stats(df: DataFrame, primary_key: Sequence[str]) -> Row:
    """The one primary-key integrity aggregate: row count ``n``, rows
    with a NULL in any key column ``null_pk``, and distinct keys
    ``distinct_pk``, in one distributed pass — only the scalar row
    comes back to the driver. Shared by the T2 gate
    (``validate_integrity``) and the post-load check
    (``writers.validate_loaded``); each caller keeps its own checks."""
    null_cond = None
    for pk in primary_key:
        c = F.col(pk).isNull()
        null_cond = c if null_cond is None else (null_cond | c)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(null_cond, 1).otherwise(0)).alias("null_pk"),
        F.count_distinct(*[F.col(pk) for pk in primary_key]).alias("distinct_pk"),
    ).first()


def validate_integrity(
    df: DataFrame,
    primary_key: Sequence[str],
    expected_row_count: int | None = None,
    expected_columns: Sequence[str] | None = None,
) -> None:
    """T2 integrity gate (reference modeling.py:285): PK non-null, PK
    unique, optional row-count reconciliation and schema contract.

    One distributed pass computes all row-level checks (no collect of
    data — only scalar aggregates come back to the driver).
    """
    import re as _re

    if expected_columns is not None:
        if sorted(df.columns) != sorted(expected_columns):
            raise ValueError(
                f"Schema mismatch: expected {sorted(expected_columns)}, "
                f"found {sorted(df.columns)}"
            )
    for col in df.columns:
        if _re.fullmatch(r"[a-z0-9]+(?:_[a-z0-9]+)*", col) is None:
            raise ValueError(f"Invalid column name (not snake_case): {col}")

    stats = pk_integrity_stats(df, primary_key)
    if stats["null_pk"] and stats["null_pk"] > 0:
        raise ValueError(f"NULL values found in primary key {list(primary_key)}")
    if stats["distinct_pk"] != stats["n"]:
        raise ValueError(f"Duplicate primary keys found on {list(primary_key)}")
    if expected_row_count is not None and stats["n"] != expected_row_count:
        raise ValueError(
            f"Row count changed during T2: {expected_row_count} -> {stats['n']}"
        )
