"""Event-time window operators: sliding (tumbling is the slide ==
duration case), session, and rolling (running) aggregation.

The reference repo itself contains no window operators (SURVEY.md §2.6)
— they are engine capabilities its connectors feed via per-item event
timestamps. Under the "Structured Streaming equivalents" mandate these
are first-class here: thin, typed wrappers over `F.window` /
`F.session_window` that work identically on bounded DataFrames and
streaming DataFrames (attach `withWatermark` upstream for streams).

Scale notes: windowed groupBy shuffles on (window, keys) with map-side
partial aggregation; session windows shuffle on the session keys and
merge per key — both linear, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _windowed(
    df: DataFrame,
    window_col: Column,
    keys: list[str],
    aggs: list[Column],
    start_name: str,
    end_name: str,
) -> DataFrame:
    agged = df.groupBy(window_col.alias("__w__"), *keys).agg(*aggs)
    agg_names = [c for c in agged.columns if c != "__w__" and c not in keys]
    return agged.select(
        F.col("__w__.start").alias(start_name),
        F.col("__w__.end").alias(end_name),
        *keys,
        *agg_names,
    )


def sliding(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Overlapping windows of `duration` advancing every `slide`; each
    event lands in duration/slide windows. Output columns:
    window_start, window_end, keys..., aggs.... With slide == duration
    the windows are tumbling (fixed and non-overlapping)."""
    return _windowed(
        df,
        F.window(ts_col, duration, slide),
        keys or [],
        aggs or [F.count(F.lit(1)).alias("n")],
        "window_start",
        "window_end",
    )


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Session windows per key: events closer than `gap` merge into one
    session; the session ends `gap` after its last event."""
    return _windowed(
        df,
        F.session_window(F.col(ts_col), gap),
        keys,
        aggs or [F.count(F.lit(1)).alias("n")],
        "session_start",
        "session_end",
    )


def rolling_aggregate(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Batch form of the reference's rollingAggregate
    (HyperLogLogTest.java:79-86): per key, emit the running aggregate
    after every event in `order_by` order. In streaming, express the
    same semantics as an update-mode aggregation (the estimate advances
    per micro-batch instead of per event — documented difference)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out
