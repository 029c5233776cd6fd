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


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Left-to-right summed dot product (same fold order as DuckDB's
    list functions, keeping float results comparable).

    With ``dim`` given, unrolls to a flat sum of element_at products —
    a plain codegen'd expression whose per-row cost beats the
    interpreted aggregate/zip_with higher-order form ~10x, at the price
    of ~seconds of one-time Janino compilation for the 64+-term method.
    Unroll for corpus-scale scans; leave ``dim=None`` for small or
    interactive inputs. Both forms fold left-to-right, so results are
    bit-identical.
    """
    ca, cb = _c(a), _c(b)
    if dim is not None:
        terms = [F.element_at(ca, j + 1) * F.element_at(cb, j + 1) for j in range(dim)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Cosine similarity; null-safe 0.0 when either norm is 0."""
    d = dot(a, b, dim)
    na, nb = norm(a, dim), norm(b, dim)
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
