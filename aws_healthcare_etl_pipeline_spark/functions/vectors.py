"""Vector math as Catalyst column expressions — no Python UDFs.

``array<float>`` embeddings are combined with ``F.zip_with`` /
``F.aggregate`` so the whole computation stays inside whole-stage
codegen on the JVM. All arithmetic is done in DOUBLE after an explicit
element cast: summation is sequential in array order, which makes the
result deterministic and bit-identical to any other engine that sums
the same doubles left-to-right (the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two float/double arrays."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def dot_literal_sql(vec_sql: str, vec) -> str:
    """SQL text for dot(vec_sql, literal vec) as one left-to-right fold.

    A literal vector (hyperplane, centroid, principal component) is
    embedded in the plan as ONE ``F.expr`` parse: the column-object form
    costs a py4j round trip per operator node. repr() round-trips
    doubles exactly, so the parsed literals are bit-identical to the
    NumPy values.
    """
    arr = "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> cast(x AS double) * y), "
        "0D, (acc, x) -> acc + x)"
    )


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """Materialize ``l2_norm(vec_col)`` once per row as ``norm_col``.

    Pair scoring then costs one dot product per pair (``cosine``) —
    an inline norm would be recomputed for every pair a row joins.
    """
    return df.withColumn(norm_col, l2_norm(F.col(vec_col)))


def cosine(a: str, b: str, a_norm: str, b_norm: str) -> Column:
    """Cosine of two array columns over norms materialized by ``with_norm``."""
    return dot(F.col(a), F.col(b)) / (F.col(a_norm) * F.col(b_norm))
