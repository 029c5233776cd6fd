"""Firehose-style push stream source — the dedicated analog of the
reference's Twitter streaming source (SURVEY.md §2.2 S11).

Reference contract being re-expressed: a push client (hosebird) feeds
raw JSON strings into a bounded ``LinkedBlockingQueue(1000)`` and the
source drains at most 250 per fill (`TwitterSources.java:204-243`); the
timestamped variant parses ``timestamp_ms`` out of each JSON payload and
**drops** (with a warning) any payload lacking it
(`TwitterSources.java:245-262`). The API is not replayable, so the
source takes no snapshots — restart starts from "now"
(`TwitterSources.java:85-146`).

Spark-first re-expression: the push side is a ``FirehoseClient`` that
spools payloads into message-log segments through a
``message_log.SpoolAppender`` (the bounded-queue → durable-spool
mapping of SURVEY.md §7 risk 3 — a pull engine needs a buffer owned by
neither the client thread nor the query); the read side
is the ``message_log`` streaming DataSource. Event time is an explicit
column: ``timestamped_stream`` compiles the timestamp_ms extraction to
Catalyst expressions (``get_json_object`` + cast — no Python in the
per-row path) and filters out payloads without a parseable timestamp,
matching the warn-and-drop semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.streaming import message_log
from hazelcast_jet_contrib_spark.streaming.timestamps import with_timestamps


class FirehoseClient:
    """Push-side spool: payloads buffer in a bounded
    ``SpoolAppender`` and flush to message-log segments in drain-sized
    chunks.

    ``capacity`` is the bounded queue (reference: 1000); a push into a
    full queue triggers an inline flush — the blocking-producer behavior
    of ``queue.put`` re-expressed as "the producer pays the flush cost"
    rather than unbounded memory. A failed flush raises from ``push``
    (that payload is not accepted) and keeps every accepted payload
    buffered for the next flush. ``drain_max`` bounds records per
    segment (reference: ≤250 per fill), which in turn bounds records per
    micro-batch task on the read side.
    """

    def __init__(
        self, root: str, topic: str, capacity: int = 1000, drain_max: int = 250
    ):
        if drain_max > capacity:
            raise ValueError("drain_max must be <= capacity")
        self.root, self.topic = root, topic
        self.appender = message_log.SpoolAppender(
            root, lambda rec: topic, capacity=capacity, segment_records=drain_max
        )

    @property
    def pushed(self) -> int:
        return self.appender.metrics()["records_in"]

    def push(self, payload: str) -> None:
        self.appender.put({"key": None, "value": payload})

    def flush(self) -> None:
        self.appender.flush()

    def close(self) -> None:
        self.appender.close()


def stream(spark: SparkSession, root: str, topic: str) -> DataFrame:
    """Raw firehose: a streaming DataFrame of ``value string`` JSON
    payloads (the `TwitterSources.stream` surface)."""
    message_log.register(spark)
    return (
        spark.readStream.format("message_log")
        .option("path", root)
        .load()
        .filter(F.col("stream") == topic)
        .select("value")
    )


def timestamped_stream(
    spark: SparkSession,
    root: str,
    topic: str,
    ts_field: str = "timestamp_ms",
    allowed_lag: str = "0 seconds",
) -> DataFrame:
    """Timestamped firehose: event time parsed from the JSON payload's
    epoch-millis field; payloads without a parseable value are dropped
    (`TwitterSources.java:249-262` warn-and-drop). Returns
    ``(value string, event_time timestamp)`` with a watermark."""
    raw = stream(spark, root, topic)
    # try_cast: a malformed timestamp_ms is a drop, not a query failure
    ms = F.get_json_object("value", f"$.{ts_field}").try_cast("long")
    out = raw.withColumn("__ms__", ms).filter(F.col("__ms__").isNotNull())
    return with_timestamps(
        out, F.timestamp_millis(F.col("__ms__")), allowed_lag=allowed_lag
    ).drop("__ms__")
