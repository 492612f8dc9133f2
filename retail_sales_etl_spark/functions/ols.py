"""The staged log-log OLS kernel: one simple regression of y on x
reduced to five order-independent sums and a closed form.

The callers stage x and y as 6-dp floored doubles (``fround``) into the
columns ``x6`` and ``y6`` in their own select, then aggregate
``ols_sums`` next to their own row count: Σx and Σy as DECIMAL(25,6)
sums, Σxx, Σxy and Σyy as ``sum9`` sums of the 9-dp staged products.
Every sum is exact decimal arithmetic, so the result does not depend
on partitioning. ``ols_fit`` is the closed form over those sums in
plain double arithmetic, which the DuckDB oracles mirror operation by
operation. Each caller keeps its own guards on the degenerate
denominators and its own output names.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import sum9


def ols_sums() -> list[Column]:
    """The aggregates ``sx``, ``sy``, ``sxx``, ``sxy``, ``syy`` (doubles)
    over the staged columns ``x6`` and ``y6``."""
    xc, yc = F.col("x6"), F.col("y6")
    return [
        F.sum(xc.cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(yc.cast("decimal(25,6)")).cast("double").alias("sy"),
        sum9(xc * xc).alias("sxx"),
        sum9(xc * yc).alias("sxy"),
        sum9(yc * yc).alias("syy"),
    ]


def ols_fit(n: str) -> tuple[Column, Column, Column, Column, Column]:
    """The closed form over the ``ols_sums`` columns and the row count
    column ``n``: the n-scaled covariance and variances, the slope and
    the intercept, as ``(cov, varx, vary, slope, intercept)``
    (unguarded)."""
    n_d = F.col(n).cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    cov = n_d * F.col("sxy") - sx * sy
    varx = n_d * F.col("sxx") - sx * sx
    vary = n_d * F.col("syy") - sy * sy
    slope = cov / varx
    return cov, varx, vary, slope, (sy - slope * sx) / n_d
