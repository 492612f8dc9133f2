"""Drop-in compatibility with the reference retail pipelines.

A user of pavanpalve12/retail-sales-etl runs four pipelines over
customers/products/stores/sales CSVs into customers_dim / products_dim /
stores_dim / sales_fact / date_dim. This module carries the exact same
configuration contract (reference runner/pipeline_config.py) and
derivations (etl/transform_data_modeling.py), so those CSVs process
identically here — but distributed: the CSV scan parallelizes, the
derived columns are Catalyst expressions, the state->region map is a
broadcast join instead of a driver-side dict .map().

Semantics parity (reference file:line):
- customers_dim: full_name, tenure_days vs as_of_date, tenure bucket
  NEW/REGULAR/LOYAL, email_domain          (transform_data_modeling.py:44)
- products_dim: price_band LOW/MEDIUM/HIGH, is_premium > 2000,
  category upper                           (transform_data_modeling.py:83)
- stores_dim: city/state upper, metro-city flag, state->region with
  fail-on-unmapped                         (transform_data_modeling.py:112)
- sales_fact: gross/discount/net amounts, is_discounted, order year +
  'yyyy-MM' month                          (transform_data_modeling.py:154)
- date_dim over the sale-date range        (transform_data_modeling.py:191)
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .functions.retail import price_band, tenure_bucket, year_month
from .operators import cleaning, modeling

# Schema contracts — reference runner/pipeline_config.py:49-161 verbatim.
EXPECTED_COLUMNS = {
    "customers_dim": ["customer_id", "first_name", "last_name", "email", "city", "signup_date"],
    "products_dim": ["product_id", "product_name", "category", "price"],
    "stores_dim": ["store_id", "store_name", "city", "state"],
    "sales_fact": [
        "sale_id", "sale_date", "customer_id", "product_id", "store_id",
        "quantity", "unit_price", "discount_pct",
    ],
}

PRIMARY_KEYS = {
    "customers_dim": ["customer_id"],
    "products_dim": ["product_id"],
    "stores_dim": ["store_id"],
    "date_dim": ["date"],
    "sales_fact": ["sale_id"],
}

DEFAULT_VALUE_MAP = {
    "customers_dim": {"first_name": "", "last_name": "", "email": "", "city": "UNKNOWN"},
    "products_dim": {"category": "UNKNOWN"},
    "stores_dim": {"city": "UNKNOWN", "state": "UNKNOWN"},
    "sales_fact": {"discount_pct": 0.0},
}

DATA_TYPE_MAP = {
    "customers_dim": {
        "customer_id": "string", "first_name": "string", "last_name": "string",
        "email": "string", "city": "string", "signup_date": "timestamp",
    },
    "products_dim": {
        "product_id": "string", "product_name": "string",
        "category": "string", "price": "double",
    },
    "stores_dim": {
        "store_id": "string", "store_name": "string",
        "city": "string", "state": "string",
    },
    "sales_fact": {
        "sale_id": "string", "sale_date": "timestamp", "customer_id": "string",
        "product_id": "string", "store_id": "string", "quantity": "bigint",
        "unit_price": "double", "discount_pct": "double",
    },
}

# reference runner/pipeline_config.py:165-218 verbatim
STATE_REGION_MAP = {
    "JK": "NORTH", "HP": "NORTH", "PB": "NORTH", "HR": "NORTH", "DL": "NORTH",
    "UK": "NORTH", "UP": "NORTH", "CH": "NORTH", "LA": "NORTH",
    "KA": "SOUTH", "TN": "SOUTH", "KL": "SOUTH", "AP": "SOUTH", "TG": "SOUTH",
    "PY": "SOUTH",
    "WB": "EAST", "OD": "EAST", "BR": "EAST", "JH": "EAST",
    "MH": "WEST", "GJ": "WEST", "RJ": "WEST", "GA": "WEST", "DN": "WEST",
    "DD": "WEST",
    "MP": "CENTRAL", "CG": "CENTRAL",
    "AS": "NORTH_EAST", "AR": "NORTH_EAST", "ML": "NORTH_EAST", "MN": "NORTH_EAST",
    "MZ": "NORTH_EAST", "NL": "NORTH_EAST", "TR": "NORTH_EAST", "SK": "NORTH_EAST",
    "AN": "ISLANDS", "LD": "ISLANDS",
}

METRO_CITIES = ("MUMBAI", "DELHI", "BANGALORE", "CHENNAI")


def clean(source_name: str, df: DataFrame) -> DataFrame:
    """T1 clean with the reference's per-table contract."""
    table = {
        "customers": "customers_dim",
        "products": "products_dim",
        "stores": "stores_dim",
        "sales": "sales_fact",
    }[source_name]
    return cleaning.run_cleaning(
        df,
        primary_key=PRIMARY_KEYS[table],
        defaults=DEFAULT_VALUE_MAP[table],
        type_map=DATA_TYPE_MAP[table],
    )


def build_customers_dim(
    df: DataFrame, as_of_date: datetime.datetime
) -> DataFrame:
    """customers_dim (transform_data_modeling.py:44)."""
    full_name = F.trim(
        F.concat_ws(
            " ", F.coalesce("first_name", F.lit("")), F.coalesce("last_name", F.lit(""))
        )
    )
    tenure_days = F.datediff(
        F.lit(as_of_date.date()).cast("date"), F.to_date("signup_date")
    )
    return df.select(
        *EXPECTED_COLUMNS["customers_dim"],
        full_name.alias("customer_full_name"),
        tenure_days.alias("customer_tenure_days"),
        tenure_bucket(tenure_days).alias("customer_tenure_bucket"),
        F.split_part(F.col("email"), F.lit("@"), F.lit(2)).alias("email_domain"),
    )


def build_products_dim(df: DataFrame) -> DataFrame:
    """products_dim (transform_data_modeling.py:83)."""
    return df.select(
        *EXPECTED_COLUMNS["products_dim"],
        price_band(F.col("price")).alias("price_band"),
        (F.col("price") > 2000).alias("is_premium_product"),
        F.upper("category").alias("category_normalized"),
    )


def build_stores_dim(df: DataFrame, spark: SparkSession) -> DataFrame:
    """stores_dim (transform_data_modeling.py:112).

    The state->region dict becomes a broadcast-joined mapping table;
    unmapped states fail the run, matching the reference's ValueError.
    """
    mapping = spark.createDataFrame(
        list(STATE_REGION_MAP.items()), ["state_code", "store_region"]
    )
    upper = df.select(
        "store_id",
        "store_name",
        F.upper("city").alias("city"),
        F.upper("state").alias("state"),
    )
    joined = upper.join(
        broadcast(mapping), upper.state == mapping.state_code, "left"
    ).drop("state_code")
    n_unmapped = joined.filter(F.col("store_region").isNull()).count()
    if n_unmapped > 0:
        raise ValueError("Unmapped states found while deriving store_region")
    return joined.select(
        "store_id",
        "store_name",
        "city",
        "state",
        F.col("city").isin(*METRO_CITIES).alias("is_metro_store"),
        "store_region",
    )


def build_sales_fact(df: DataFrame) -> DataFrame:
    """sales_fact (transform_data_modeling.py:154)."""
    gross = F.col("quantity") * F.col("unit_price")
    discount = gross * (F.col("discount_pct") / 100)
    return df.select(
        *EXPECTED_COLUMNS["sales_fact"],
        gross.alias("gross_amount"),
        discount.alias("discount_amount"),
        (gross - discount).alias("net_amount"),
        (F.col("discount_pct") > 0).alias("is_discounted"),
        F.year("sale_date").alias("order_year"),
        year_month(F.col("sale_date")).alias("order_month"),
    )


def build_date_dim(sales_fact: DataFrame) -> DataFrame:
    """date_dim over the sale-date range (transform_data_modeling.py:191):
    the modeling calendar spine over ``sale_date``."""
    return modeling.date_spine(sales_fact, "sale_date")