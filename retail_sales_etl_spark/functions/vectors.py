"""Vector kernels for embedding columns (array<float>/array<double>).

Two implementations of the same math:

- Catalyst expressions (``dot``, ``norm``, ``cosine``, ``l2sq``,
  ``as_double_array``): JVM-side ``zip_with`` + ``aggregate`` folds —
  whole-stage codegen, zero Python transfer. The embedding operators
  (``operators/similarity.py``, ``operators/dedup.py``) and the
  streaming ANN/drift entries build every vector expression from these,
  and every oracle-checked result stays bit-exact against its DuckDB
  twin under three conditions:

  1. **In-order fold.** ``dot`` sums the products left to right from
     0.0, the same sequence of IEEE operations DuckDB's
     ``list_dot_product`` performs, so the two agree to the last ulp
     (a tree or pairwise reduction would not).
  2. **6-dp floor.** Scores are compared, ranked and tie-broken only
     after ``fround(x, 6)`` (``floor(x * 1e6 + 0.5) / 1e6``, identical
     in both engines), so a last-ulp difference elsewhere in a
     pipeline cannot flip an ordering.
  3. **Commutative product.** IEEE multiplication commutes exactly, so
     ``dot(a, b)`` and ``dot(b, a)`` and either operand order of
     ``norm(a) * norm(b)`` give the same bits; sums do not commute
     bit-exactly, which is why ``l2sq`` keeps its term order.
- Arrow-batched Pandas UDF (``cosine_to_query_udf``): numpy dot over
  a whole Arrow batch — wins when scoring against a fixed query at
  high throughput (BLAS beats per-row codegen for wide vectors).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 as in-order dot products, dot(a,a) - 2 dot(a,b) +
    dot(b,b) — the float computation a ``list_dot_product`` SQL twin
    can spell term for term (a zip_with squared-difference fold
    computes different float ops than any SQL twin could)."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine_to_query_udf(query_vec: list[float]):
    """Vectorized cosine against a fixed query vector.

    Returns a Pandas UDF: array column -> double cosine. The whole
    Arrow batch is stacked into one ndarray and pushed through BLAS.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def _cos(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        dots = mat @ q
        norms = np.linalg.norm(mat, axis=1)
        return pd.Series(dots / (norms * qn))

    return _cos
