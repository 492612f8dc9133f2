"""Extract layer: validated readers for csv/parquet/json sources.

Spark-first re-expression of the reference extract layer
(/root/reference/etl/extract.py:138): read -> schema contract check ->
distributed sanity checks -> raw-but-validated DataFrame.

The reference reads whole CSVs into pandas and checks them in memory;
here the read is a lazy distributed scan and every check is either
metadata-only (schema) or part of ONE aggregate job (row count, null %
and full-row duplicates together) — nothing proportional to data size
is ever collected.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Read a source file/directory as a DataFrame.

    CSV defaults to header=true + schema inference off when an explicit
    schema is given (at scale, always give one: inference is a full
    extra pass over the data).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        opts = {"header": "true"}
        if schema is None:
            opts["inferSchema"] = "true"
        opts.update(options)
        return reader.options(**opts).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    raise ValueError(f"Unsupported source format: {fmt}")


def validate_schema(df: DataFrame, expected_columns: Sequence[str]) -> None:
    """Schema contract check (reference extract.py:64) — metadata only."""
    read_columns = sorted(df.columns)
    expected = sorted(expected_columns)
    if read_columns != expected:
        raise ValueError(
            "Schema mismatch detected.\n"
            f"Expected: {expected}\n"
            f"Read: {read_columns}"
        )


def sanity_check(
    df: DataFrame,
    null_threshold_pct: float = 95.0,
    fail_on_duplicates: bool = True,
) -> dict:
    """Distributed sanity checks (reference extract.py:94).

    - non-empty source
    - per-column NULL percentage below threshold
    - full-row duplicate detection (fail-fast, like the reference)

    One job computes all three: group by every column with a per-group
    count, then aggregate the groups — ``n = sum(cnt)``, ``distinct =
    count(*)`` and each column's NULLs as ``sum(cnt)`` over the groups
    where it is NULL. This is the aggregate Spark itself plans for
    ``distinct()``, so duplicates compare NULLs equal, exactly as
    ``df.distinct().count()`` does. The checks still raise in the order
    above. Returns the stats dict so callers can log it.
    """
    cols = df.columns
    cnt = F.col("__sanity_cnt")
    row = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__sanity_cnt"))
        .agg(
            F.sum(cnt).alias("__n"),
            F.count(F.lit(1)).alias("__distinct"),
            *[
                F.sum(F.when(F.col(c).isNull(), cnt)).alias(f"__null_{i}")
                for i, c in enumerate(cols)
            ],
        )
        .first()
    )
    # sum() over no groups is NULL: an empty source has n = 0
    n = row["__n"] or 0
    if n == 0:
        raise ValueError("Source data is empty")

    null_pct = {c: 100.0 * (row[f"__null_{i}"] or 0) / n for i, c in enumerate(cols)}
    for c, pct in null_pct.items():
        if pct > null_threshold_pct:
            raise ValueError(f"Column '{c}' has {pct:.2f}% NULL values")

    dup_count = n - row["__distinct"]
    if dup_count > 0 and fail_on_duplicates:
        raise ValueError(f"Duplicate rows found in source data: {dup_count}")

    return {"row_count": n, "null_pct": null_pct, "duplicate_rows": dup_count}


def run_extract(
    spark: SparkSession,
    source_name: str,
    path: str,
    expected_columns: Sequence[str],
    fmt: str = "parquet",
    schema: StructType | None = None,
) -> tuple[DataFrame, dict]:
    """Full Extract phase (reference extract.py:138): read + validate.

    Returns ``(df, stats)``: the validated frame and ``sanity_check``'s
    stats, whose ``row_count`` is the source's row count — callers log
    it instead of scanning the source again with ``df.count()``."""
    df = read_source(spark, path, fmt=fmt, schema=schema)
    validate_schema(df, expected_columns)
    return df, sanity_check(df)
