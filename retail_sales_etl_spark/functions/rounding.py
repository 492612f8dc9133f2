"""Portable final-mile rounding for oracle-checked double outputs.

Two engine-divergence classes hit ``F.round(double, n)`` vs DuckDB's
``round(x, n)`` even though both sides compute the identical IEEE
double first (found empirically in rounds 8-9, each exactly once):

1. **Half-boundary**: when the value's decimal expansion lands a ``5``
   exactly at digit ``n+1`` (typical producer: a quotient of exact
   decimal sums), Spark parses the double's shortest decimal repr into
   a BigDecimal and rounds HALF_UP, while DuckDB rounds the scaled
   double — the two can disagree by one ulp of the last kept digit
   (the round-8 ``avg_neg_logprob`` fail).
2. **Signed zero**: for a tiny negative input Spark's ``round``
   normalizes to ``+0.0`` but DuckDB returns ``-0.0``; the driver's
   bit-level value hash distinguishes them (the round-9
   ``label_prop_communities`` fail, 107/349 rows).

``fround`` replaces both engines' ``round`` with the same plain
floating-point arithmetic — ``floor(x * 10^n + 0.5) / 10^n`` — which
is bit-identical across engines (each step is an IEEE-exact-rounded
op on the same input) and maps ``-epsilon`` to ``+0.0``. The oracle
twin is ``floor((x) * 1eN + 0.5) / 1eN`` spelled inline in the SQL.

NOT a drop-in for every site:

- **NaN**: Spark ``floor(double)`` returns BIGINT, so ``floor(NaN)``
  is ``0`` while DuckDB keeps ``NaN`` — only use where the input is
  provably non-NaN (guarded denominators, log of positive, …).
- Values already exact at ``<= n`` decimal digits (a ``DECIMAL(p,n)``
  sum cast to double) need no conversion at all: ``round`` is the
  identity there in both engines and cannot hit either class.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fround(col: Column | str, scale: int = 6) -> Column:
    """Engine-portable half-up round of a non-NaN double column.

    Oracle twin: ``floor((x) * 1e{scale} + 0.5) / 1e{scale}``.
    """
    if isinstance(col, str):
        col = F.col(col)
    p = F.lit(float(10**scale))
    return F.floor(col * p + F.lit(0.5)) / p


def stage9(col: Column) -> Column:
    """9-dp floor-stage then DECIMAL(28,9): the staging of every
    product or term that enters an order-independent sum, so a float
    never re-enters the sum.

    Oracle twin: ``CAST(floor((x) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))``.
    """
    return fround(col, 9).cast("decimal(28,9)")


def sum9(col: Column) -> Column:
    """Decimal-exact sum of ``col`` staged by ``stage9``, as a double."""
    return F.sum(stage9(col)).cast("double")
