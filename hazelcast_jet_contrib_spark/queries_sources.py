"""Connector-shaped queries: the DSv2 store sources (`sources/dsv2.py`)
exercised over the driver's tables acting as external systems
(SURVEY.md §2.1 S3-S6, S1-S2). Each demonstrates the reference's
contract — partitioned client reads, server-side filter/projection
pushdown — through the DuckDB oracle gate, with the pushdown driven by
Catalyst from plain .filter() predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hazelcast_jet_contrib_spark.registry import query


# S4 RedisSources.sortedSet — ZRANGEBYSCORE with the range evaluated
# server-side (both ends inclusive, RedisSourceTest.java:114-127). The
# range arrives as a plain .filter() and Catalyst hands it to the source
# via pushFilters — the composable pushdown path (SURVEY.md §7 "Custom
# Catalyst/DSv2").
@query(
    "zset_range_catalyst_pushdown",
    oracle="""
    SELECT value AS score, CAST(event_id AS VARCHAR) AS member
    FROM events
    WHERE value BETWEEN 10.0 AND 50.0
    """,
)
def zset_range_catalyst_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark.sources import dsv2

    # runtime-settable, so this works under the driver's bare session
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    df = (
        spark.read.format("zset_store")
        .option("path", f"{sf_dir}/events.parquet")
        .option("score_col", "value")
        .option("member_col", "event_id")
        .load()
    )
    return df.filter((F.col("score") >= 10.0) & (F.col("score") <= 50.0))


# S6 MongoDBSources.batch — find(filter, projection) executed inside the
# store (MongoDBSourceTest.java:97-123). The find filter comes from plain
# .filter() predicates via pushFilters — the >=/<=/= comparisons execute
# inside the store; the startswith predicate has no counterpart in the
# find language and comes back as a residual that Spark re-checks
# post-scan (both halves audited in tests/test_plan_audits.py).
@query(
    "docstore_catalyst_pushdown",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE n_chars >= 100 AND n_chars <= 400 AND lang = 'en'
      AND source LIKE 'src1%'
    """,
)
def docstore_catalyst_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark.sources import dsv2

    # runtime-settable, so this works under the driver's bare session
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    df = (
        spark.read.format("doc_store")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("ddl", "doc_id long, lang string, source string, n_chars long")
        .load()
    )
    return df.filter(
        (F.col("n_chars") >= 100)
        & (F.col("n_chars") <= 400)
        & (F.col("lang") == "en")
        & F.col("source").startswith("src1")
    )


# S1 InfluxDbSources.influxDb — measurement read with time-range
# pushdown: the window arrives as a plain .filter() that Catalyst pushes
# into the client read, through the same store reader as the other three
# sources. The tag inequality has no counterpart in the store's
# time-range language and returns as a residual Spark re-checks
# post-scan.
@query(
    "timeseries_catalyst_pushdown",
    oracle="""
    SELECT event_type AS tag, CAST(ts AS TIMESTAMP) AS time, value AS val
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-12 00:00:00'
      AND event_type <> 'click'
    """,
)
def timeseries_catalyst_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark.sources import dsv2

    # runtime-settable, so this works under the driver's bare session
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    df = (
        spark.read.format("ts_store")
        .option("path", f"{sf_dir}/events.parquet")
        .option("time_col", "ts")
        .option("tag_col", "event_type")
        .option("field_col", "value")
        .load()
    )
    return df.filter(
        (F.col("time") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("time") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
        & (F.col("tag") != "click")
    )


# S3 RedisSources.hash — KV read emitting (key, value) entries. With no
# key predicate the read is HGETALL (full snapshot); here a plain
# .filter() on the key column narrows the store read to the server-side
# key ops a hash store has — startswith becomes a SCAN MATCH "p*" cursor
# scan executed inside the client (row-group pruning + row mask), while the
# contains predicate on the VALUE has no key-op counterpart and comes
# back as a residual Spark re-checks post-scan (both halves audited in
# tests/test_plan_audits.py).
@query(
    "kv_hash_catalyst_pushdown",
    oracle="""
    SELECT c_name AS key, CAST(c_custkey AS VARCHAR) AS value
    FROM customer
    WHERE c_name LIKE 'Customer#0000001%'
      AND CAST(c_custkey AS VARCHAR) LIKE '%5%'
    """,
)
def kv_hash_catalyst_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hazelcast_jet_contrib_spark.sources import dsv2

    # runtime-settable, so this works under the driver's bare session
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    df = (
        spark.read.format("kv_store")
        .option("path", f"{sf_dir}/customer.parquet")
        .option("key_col", "c_name")
        .option("value_col", "c_custkey")
        .load()
    )
    return df.filter(
        F.col("key").startswith("Customer#0000001") & F.col("value").contains("5")
    )
