"""Event-time windowing queries over the events table, evaluated in
batch mode (identical operators run on streams — see tests/
test_streaming.py) with DuckDB oracles: sliding via bucket enumeration
(a tumbling window is the slide == duration case), session via
gaps-and-islands, rolling via SQL window frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.operators.windows import (
    rolling_aggregate,
    session,
    sliding,
)
from hazelcast_jet_contrib_spark.registry import query, retired_query, table


@query(
    "window_sliding_12h",
    oracle="""
    -- each event belongs to 2 windows: size 1 day, slide 12 h
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    buckets AS (
        SELECT time_bucket(INTERVAL '12 hours', e.ts) - k.k * INTERVAL '12 hours' AS window_start,
               e.value
        FROM e, (SELECT UNNEST(range(2)) AS k) k
    )
    SELECT window_start,
           window_start + INTERVAL '1 day' AS window_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM buckets
    GROUP BY 1, 2
    """,
)
def window_sliding_12h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return sliding(
        ev,
        "ts",
        "1 day",
        "12 hours",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


@query(
    "window_session_30m",
    oracle="""
    -- gaps-and-islands: a >30-minute silence per user starts a new session
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM e
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, sess
    """,
)
def window_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return session(
        ev, "ts", "30 minutes", keys=["user_id"], aggs=[F.count(F.lit(1)).alias("n_events")]
    ).select("user_id", "session_start", "session_end", "n_events")


@retired_query(
    "rolling_running_total",
    reason=(
        "r17: the per-key ordered ROWS UNBOUNDED PRECEDING running "
        "aggregate is exactly the packing kernel pack_token_budget runs "
        "live (operators/curation.py:98-103: Window.partitionBy(shard)"
        ".orderBy(key).rowsBetween(unboundedPreceding,-1) under F.sum) "
        "inside pack_token_budget_shards, and per-key ordered window "
        "aggregation generally stays proven by rolling_zscore_anomaly "
        "(bounded frames, strictly more frame machinery); the streaming "
        "rollingAggregate parity (SURVEY A4) was always carried by "
        "streaming/stateful.py + test_stateful.py, not this batch row; "
        "retired to fund the stream_sink_2pc_roundtrip registration "
        "(window demand 51 > 50 after the three r16 oracle re-proofs)"
    ),
    oracle="""
    SELECT event_id,
           user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_total,
           COUNT(*) OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id
                          ROWS UNBOUNDED PRECEDING) AS running_n
    FROM events
    """,
)
def rolling_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's rollingAggregate shape (continuously updated
    aggregate per arriving event) evaluated in batch event order."""
    ev = table(spark, sf_dir, "events")
    out = rolling_aggregate(
        ev,
        keys=["user_id"],
        order_by=["ts", "event_id"],
        aggs={
            "running_total_raw": F.sum("value"),
            "running_n": F.count(F.lit(1)),
        },
    )
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("running_total_raw"), 2).alias("running_total"),
        "running_n",
    )
