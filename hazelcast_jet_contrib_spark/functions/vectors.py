"""Vector column functions over `array<float|double>` embedding columns
— pure Catalyst expressions (`zip_with`/`aggregate`), no Python in the
hot path, so similarity scans stay JVM-side at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double(vec: Column | str) -> Column:
    """Upcast array<float> to array<double> so all arithmetic (and the
    DuckDB oracle, which casts to DOUBLE[]) runs in float64."""
    return F.transform(_c(vec), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right summed dot product (same fold order as DuckDB's
    list functions, keeping float results comparable)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null-safe 0.0 when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


def quantize_symmetric(df, id_col: str, vec_col: str, levels: int = 127):
    """Symmetric linear quantization of an embedding column to signed-int
    levels (int8 range when levels=127): scale = max(|v|)/levels,
    q_i = round(v_i / scale). The training-data staple for shrinking an
    embedding corpus ~4-8x before ANN indexing; reconstruction is
    q_i * scale.

    Pure Catalyst, and reproducible by any SQL engine: one max, one
    division per element, one HALF_UP round — no transcendentals, so an
    external oracle pins the exact quantized values. The scale is
    materialized as its own column BEFORE the per-element transform
    (computing it inside the lambda would re-run the array_max per
    element — the HOF re-evaluation pitfall). All-zero vectors quantize
    to all-zero (scale clamps to a tiny epsilon rather than dividing by
    zero).

    Output: (id, scale double, q array<int>).
    """
    base = df.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("__v__")
    ).withColumn(
        "__scale__",
        F.greatest(
            F.array_max(F.transform("__v__", F.abs)) / F.lit(float(levels)),
            F.lit(1e-12),
        ),
    )
    return base.select(
        "id",
        F.round("__scale__", 6).alias("scale"),
        F.transform(
            "__v__", lambda x: F.round(x / F.col("__scale__"), 0).cast("int")
        ).alias("q"),
    )
