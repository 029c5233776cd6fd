"""Connector-parity tests for the new source/sink instantiations:
paged-REST batch source (S7), generic connector host (S10), ack-based
at-least-once consumption (S12/S14 delivery shape), and the concrete
sink families K2-K6 — the contracts the reference verifies with
Testcontainers (SURVEY.md §5), here against file-backed stores."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.sinks.builder import RetryStrategy
from hazelcast_jet_contrib_spark.sinks.connectors import (
    doc_sink,
    kv_hash_sink,
    producer_sink,
    read_docs,
    read_kv_hash,
    read_sorted_set,
    sorted_set_sink,
    stream_sink,
)
from hazelcast_jet_contrib_spark.sources.paged_rest import paged_rest_source
from hazelcast_jet_contrib_spark.streaming import ack_log, message_log

# Driver-tier split (VERDICT r17 item 3): this module is kill/restart/
# soak/protocol ROBUSTNESS coverage, not result correctness — it runs in
# the full tier (`pytest -m "slow or not slow"`, exercised and committed
# every round) but is excluded from the default driver-facing tier so the
# driver's verify window can complete. Oracle comparisons, plan audits,
# and kernel-equality pins all stay in the default tier.
pytestmark = pytest.mark.slow



# ---------------------------------------------------------------------------
# S7 — paged REST batch source
# ---------------------------------------------------------------------------


def test_paged_rest_walks_all_pages(spark):
    """3 'search terms' × paged fetch (page size 7 over 20 records each):
    every record of every page arrives, one task per term."""

    def fetch_page(client, term, token):
        start = 0 if token is None else token
        page = [(term, i) for i in range(start, min(start + 7, 20))]
        next_token = start + 7 if start + 7 < 20 else None
        return page, next_token

    df = paged_rest_source(
        spark,
        "search",
        schema="term string, idx long",
        fetch_page=fetch_page,
        partitions=["spark", "jet", "flink"],
    )
    rows = {(r["term"], r["idx"]) for r in df.collect()}
    assert rows == {(t, i) for t in ["spark", "jet", "flink"] for i in range(20)}


def test_paged_rest_respects_page_budget(spark):
    """max_pages bounds the walk — the rate-limit exit."""

    def fetch_page(client, term, token):
        start = 0 if token is None else token
        return [(start,)], start + 1  # never-ending pagination

    df = paged_rest_source(
        spark,
        "ratelimited",
        schema="idx long",
        fetch_page=fetch_page,
        partitions=["q"],
        max_pages=5,
    )
    assert df.count() == 5


# ---------------------------------------------------------------------------
# S10 — generic connector host
# ---------------------------------------------------------------------------


def test_connector_host_streams_task_records(spark, tmp_path):
    from hazelcast_jet_contrib_spark.sources import connector_host

    connector_host.register(spark)
    stream = (
        spark.readStream.format("connector_host")
        .option(
            "task_class",
            "hazelcast_jet_contrib_spark.sources.connector_host:SeededCounterTask",
        )
        .option(
            "task_config",
            json.dumps(
                {"shards": ["a", "b"], "seed": 100, "advance_per_poll": 5, "max_offset": 20}
            ),
        )
        .load()
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("parquet")
        .option("path", out)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    got = spark.read.parquet(out)
    per_shard = {
        r["shard"]: r["n"]
        for r in got.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert per_shard == {"a": 20, "b": 20}
    # deterministic replay contract: value = seed + seq, each seq exactly once
    assert got.filter(F.col("value") != F.col("seq") + 100).count() == 0
    dupes = got.groupBy("shard", "seq").count().filter(F.col("count") > 1).count()
    assert dupes == 0


def test_kafka_connect_host_map_offsets_across_restart(spark, tmp_path):
    """The reference's real Connect contract
    (AbstractKafkaConnectSource.java:101-136): the engine snapshots the
    task's Map<sourcePartition, sourceOffset> state and feeds it back
    through an OffsetStorageReader on restart. Phase 1 tails two files;
    phase 2 appends to one and adds a third, restarts from the same
    checkpoint, and asserts (a) every line exactly once, and (b) the
    restarted task's OffsetStorageReader served EXACTLY the committed
    map-of-maps."""
    from hazelcast_jet_contrib_spark.sources import connector_host

    src = tmp_path / "files"
    src.mkdir()
    (src / "a.txt").write_text("a1\na2\n")
    (src / "b.txt").write_text("b1\n")
    probe = str(tmp_path / "probe.json")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    connector_host.register_connect(spark)

    def run():
        stream = (
            spark.readStream.format("kafka_connect_host")
            .option(
                "task_class",
                "hazelcast_jet_contrib_spark.sources.connector_host:FileTailSourceTask",
            )
            .option(
                "task_config",
                json.dumps({"dir": str(src), "topic": "lines", "probe_path": probe}),
            )
            .option("spool_dir", str(tmp_path / "spool"))
            .load()
        )
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run()
    with open(src / "a.txt", "a") as f:
        f.write("a3\na4\n")
    (src / "c.txt").write_text("c1\n")
    run()

    got = spark.read.parquet(out)
    values = sorted(r["value"] for r in got.collect())
    assert values == ["a1", "a2", "a3", "a4", "b1", "c1"], values
    dupes = got.groupBy("key").count().filter(F.col("count") > 1).count()
    assert dupes == 0
    # SourceRecord adapter columns
    row = got.filter(F.col("value") == "a3").collect()[0]
    assert row["topic"] == "lines"
    assert row["source_partition"] == {"filename": "a.txt"}
    assert row["timestamp"] is not None
    # exact offset feedback on restart: the committed map-of-maps
    with open(probe) as f:
        served = json.load(f)
    assert served == {
        "a.txt": {"position": 2},
        "b.txt": {"position": 1},
    }, served


def test_kafka_connect_host_resolves_connector_class(spark, tmp_path):
    """Connector-level hosting (KafkaConnectSources.java:59-83 parity):
    the host instantiates the CONNECTOR from a properties map, calls
    start/taskConfigs/taskClass, and runs the derived task — the caller
    never names the task class."""
    from hazelcast_jet_contrib_spark.sources import connector_host

    src = tmp_path / "files"
    src.mkdir()
    (src / "a.txt").write_text("x1\nx2\n")

    connector_host.register_connect(spark)
    stream = (
        spark.readStream.format("kafka_connect_host")
        .option(
            "connector_class",
            "hazelcast_jet_contrib_spark.sources.connector_host:FileTailSourceConnector",
        )
        .option(
            "connector_config", json.dumps({"dir": str(src), "topic": "lines"})
        )
        .option("spool_dir", str(tmp_path / "spool"))
        .load()
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert sorted(r["value"] for r in got.collect()) == ["x1", "x2"]
    assert {r["topic"] for r in got.collect()} == {"lines"}


# ---------------------------------------------------------------------------
# S12/S14 — ack-based at-least-once subscription
# ---------------------------------------------------------------------------


def _drain_to_memory(spark, reader_opts, tmp_path, name):
    stream = spark.readStream.format("acked_message_log")
    for k, v in reader_opts.items():
        stream = stream.option(k, v)
    q = (
        stream.load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}-{time.monotonic_ns()}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return {r["value"] for r in spark.sql(f"SELECT value FROM {name}").collect()}


def test_acked_subscription_at_least_once(spark, tmp_path):
    """Broker-side cumulative ack semantics: Spark delivers commit() to
    the source when the NEXT micro-batch is planned, so the final
    in-flight batch of a stopped query is consumed-but-unacked. A fresh
    query (new checkpoint, same subscription) must (a) never redeliver
    acked segments, (b) redeliver the unacked in-flight ones — exactly
    at-least-once, the Pulsar shared-subscription / MQTT QoS1 contract."""
    root = str(tmp_path / "log")
    ack_log.register(spark)
    message_log.append_segment(root, "s", [{"key": "k", "value": "v0"}])
    message_log.append_segment(root, "s", [{"key": "k", "value": "v1"}])

    q = (
        spark.readStream.format("acked_message_log")
        .option("path", root)
        .option("subscription", "sub1")
        .load()
        .writeStream.format("memory")
        .queryName("ack_run1")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: v0, v1 (unacked until next batch)
        message_log.append_segment(root, "s", [{"key": "k", "value": "v2"}])
        q.processAllAvailable()  # batch 1: v2; planning it acked batch 0
    finally:
        q.stop()
        q.awaitTermination()
    first = {r["value"] for r in spark.sql("SELECT value FROM ack_run1").collect()}
    assert first == {"v0", "v1", "v2"}
    assert ack_log.read_ack(root, "sub1") == {"s": 2}  # v2 in-flight, unacked

    # fresh query, same subscription: v0/v1 never redelivered (acked),
    # v2 redelivered (at-least-once)
    second = _drain_to_memory(
        spark, {"path": root, "subscription": "sub1"}, tmp_path, "ack_run2"
    )
    assert second == {"v2"}

    # a different subscription starts from the beginning (fan-out)
    other = _drain_to_memory(
        spark, {"path": root, "subscription": "sub2"}, tmp_path, "ack_run3"
    )
    assert other == {"v0", "v1", "v2"}


# ---------------------------------------------------------------------------
# K2-K6 — concrete sinks
# ---------------------------------------------------------------------------


def test_kv_hash_sink_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "kv")
    df = spark.createDataFrame(
        [("k1", "old"), ("k2", "b"), ("k1", "new")], "key string, value string"
    )
    # two versions of k1 in one writer's buffer: map keeps the latest
    kv_hash_sink(df.coalesce(1), path, "key", "value")
    assert read_kv_hash(path) == {"k1": "new", "k2": "b"}


def test_kv_hash_sink_bulk(spark, tmp_path):
    """The reference's 1M-entry contract, scaled to test time: every
    written key reads back with its value (RedisSourceTest.java:80-92)."""
    path = str(tmp_path / "kvbulk")
    n = 10_000
    df = spark.range(n).select(
        F.concat(F.lit("foo-"), F.col("id")).alias("key"),
        F.concat(F.lit("bar-"), F.col("id")).alias("value"),
    )
    kv_hash_sink(df, path, "key", "value", batch_size=512)
    back = read_kv_hash(path)
    assert len(back) == n
    assert back["foo-999"] == "bar-999"


def test_sorted_set_sink_scores(spark, tmp_path):
    path = str(tmp_path / "zset")
    df = spark.createDataFrame(
        [(3.0, "c"), (1.0, "a"), (2.0, "b"), (9.0, "a")], "score double, member string"
    )
    sorted_set_sink(df, path, "score", "member")
    zs = read_sorted_set(path)
    assert [m for _, m in zs] == ["b", "c", "a"]  # a re-scored to 9.0
    assert dict((m, s) for s, m in zs)["a"] == 9.0


def test_stream_sink_roundtrip_through_message_log(spark, tmp_path):
    """XADD sink output is directly consumable by the message_log
    streaming source — the sink→source loop the reference builds on
    Redis streams."""
    root = str(tmp_path / "xlog")
    df = spark.createDataFrame([(i, f"m{i}") for i in range(50)], "k long, value string")
    stream_sink(df, root, "events", key_col="k", value_col="value")

    message_log.register(spark)
    q = (
        spark.readStream.format("message_log")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("xadd_back")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    vals = {r["value"] for r in spark.sql("SELECT value FROM xadd_back").collect()}
    assert vals == {f"m{i}" for i in range(50)}


def test_doc_sink_ordered_aborts_unordered_skips(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "ok"), (2, "BAD"), (3, "ok")], "doc_id long, status string"
    )
    valid = lambda d: d["status"] == "ok"  # noqa: E731

    unordered = str(tmp_path / "docs-unordered")
    doc_sink(df.coalesce(1), unordered, ordered=False, validate_fn=valid)
    assert {d["doc_id"] for d in read_docs(unordered)} == {1, 3}

    ordered_path = str(tmp_path / "docs-ordered")
    with pytest.raises(Exception, match="aborted on invalid doc"):
        doc_sink(df.coalesce(1), ordered_path, ordered=True, validate_fn=valid)


def test_doc_sink_retry_recovers_transient_failure(spark, tmp_path):
    """Flush fails twice then succeeds — RetryStrategy carries it
    (MqttSinkBuilder retry contract)."""
    path = str(tmp_path / "docs-retry")
    df = spark.createDataFrame([(1, "ok")], "doc_id long, status string")
    fail_marker = str(tmp_path / "failures")

    def flaky_validate(d):
        # validate_fn runs inside flush: use it to inject transient faults
        with open(fail_marker, "a") as f:
            f.write("x")
        with open(fail_marker) as f:
            if len(f.read()) < 3:
                raise OSError("transient store hiccup")
        return True

    doc_sink(
        df.coalesce(1),
        path,
        validate_fn=flaky_validate,
        retry=RetryStrategy.constant(max_attempts=5, interval_sec=0.01),
    )
    assert [d["doc_id"] for d in read_docs(path)] == [1]


def test_producer_sink_extractors(spark, tmp_path):
    root = str(tmp_path / "topic")
    df = spark.createDataFrame([(1, "a", 1000), (2, "b", 2000)], "id long, v string, ts long")
    producer_sink(
        df.coalesce(1),
        root,
        "t1",
        value_fn=lambda r: r["v"].upper(),
        key_fn=lambda r: f"k{r['id']}",
        props_fn=lambda r: {"origin": "test"},
        event_time_fn=lambda r: r["ts"],
    )
    segs = sorted((tmp_path / "topic" / "t1").glob("*.jsonl"))
    recs = [json.loads(line) for p in segs for line in open(p)]
    assert {r["key"] for r in recs} == {"k1", "k2"}
    assert {r["value"] for r in recs} == {"A", "B"}
    assert all(r["properties"] == {"origin": "test"} for r in recs)
    assert {r["event_time"] for r in recs} == {1000, 2000}


# ---------------------------------------------------------------------------
# backpressure / error propagation (SURVEY.md §2.7, §5)
# ---------------------------------------------------------------------------


def test_message_log_admission_control(spark, tmp_path):
    """maxSegmentsPerTrigger bounds how far each micro-batch advances —
    the reference's bounded fillBuffer batches (InfluxDbSources.java:
    234-238) as Spark admission control. First batch is unclamped (WAL
    restart safety); later triggers consume at most 2 segments each."""
    root = str(tmp_path / "log")
    message_log.register(spark)
    message_log.append_segment(root, "s", [{"key": None, "value": "a0"}])

    batch_sizes = []
    q = (
        spark.readStream.format("message_log")
        .option("path", root)
        .option("maxSegmentsPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(lambda df, eid: batch_sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i in range(6):
            message_log.append_segment(root, "s", [{"key": None, "value": f"b{i}"}])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    assert sum(batch_sizes) == 7, batch_sizes  # nothing lost
    assert batch_sizes[0] == 1
    assert all(b <= 2 for b in batch_sizes[1:]), batch_sizes  # clamped


def test_sink_failure_fails_the_job(spark, tmp_path):
    """A sink whose store stays down must fail the job after retries are
    exhausted, not swallow the error (InfluxDbSinkTest.java contract:
    write to a non-existent DB fails the job)."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, status string")

    def store_down(doc):
        raise OSError("store unreachable")

    with pytest.raises(Exception, match="store unreachable"):
        doc_sink(
            df.coalesce(1),
            str(tmp_path / "down"),
            validate_fn=store_down,
            retry=RetryStrategy.constant(max_attempts=2, interval_sec=0.01),
        )


# ---------------------------------------------------------------------------
# K1 — time-series point sink
# ---------------------------------------------------------------------------


def test_point_sink_roundtrip_through_measurement_source(spark, tmp_path):
    """Write Points (measurement/time@ms/tags/fields), compact the store,
    and read back through the ts_store DSv2 source, one read per field
    (InfluxDbSinks.java:44-64 → InfluxDbSources round trip, as in
    InfluxDbSourceTest.java:97-123)."""
    import datetime

    from hazelcast_jet_contrib_spark.plans.audit import audit
    from hazelcast_jet_contrib_spark.sinks.connectors import (
        point_sink,
        points_to_parquet,
        read_points,
    )
    from hazelcast_jet_contrib_spark.sources import dsv2

    rows = [
        (datetime.datetime(2024, 1, 1, 0, 0, i), f"h{i % 2}", float(i), i * 2.0)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, host string, load double, mem double")
    store = str(tmp_path / "points")
    point_sink(df, store, "cpu", "ts", ["host"], ["load", "mem"], precision="ms")

    pts = read_points(store)
    assert len(pts) == 10
    assert all(p["measurement"] == "cpu" and p["precision"] == "ms" for p in pts)
    assert {p["tags"]["host"] for p in pts} == {"h0", "h1"}

    pq_file = str(tmp_path / "cpu.parquet")
    assert points_to_parquet(store, pq_file, "host", ["load", "mem"]) == 10
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)

    def read(field):
        return (
            spark.read.format("ts_store")
            .option("path", pq_file)
            .option("time_col", "time")
            .option("tag_col", "host")
            .option("field_col", field)
            .load()
        )

    got = {
        (r["tag"], r["time"], field, r["val"])
        for field in ("load", "mem")
        for r in read(field).collect()
    }
    expected = {(h, ts, "load", ld) for ts, h, ld, _ in rows} | {
        (h, ts, "mem", m) for ts, h, _, m in rows
    }
    assert got == expected
    # time-range pushdown still works over the compacted store, and both
    # comparisons reach the store read
    ranged = read("load").filter(
        (F.col("time") >= F.lit("2024-01-01 00:00:03").cast("timestamp"))
        & (F.col("time") < F.lit("2024-01-01 00:00:06").cast("timestamp"))
    )
    assert ranged.count() == 3
    pushed = audit(ranged).pushed_filters()
    assert any("GreaterThanOrEqual(time" in p for p in pushed), pushed
    assert any("LessThan(time" in p for p in pushed), pushed


def test_point_sink_rejects_bad_precision(spark, tmp_path):
    from hazelcast_jet_contrib_spark.sinks.connectors import point_sink

    df = spark.createDataFrame([("2024-01-01 00:00:00", 1.0)], "ts string, v double")
    with pytest.raises(ValueError, match="precision"):
        point_sink(df, str(tmp_path / "p"), "m", "ts", [], ["v"], precision="min")


# ---------------------------------------------------------------------------
# S14/K7 — MQTT QoS surface
# ---------------------------------------------------------------------------


def test_qos_per_topic_delivery_semantics(tmp_path):
    """Per-topic QoS (Subscription.java:85-127 contract): a QoS 0 topic
    acks at delivery, so its in-flight messages are LOST on an unclean
    restart (at-most-once); a QoS 1 topic acks on commit, so its
    in-flight messages are REDELIVERED (at-least-once)."""
    from hazelcast_jet_contrib_spark.streaming.ack_log import AckedMessageLogStreamReader

    root = str(tmp_path / "log")
    message_log.append_segment(root, "t0", [{"key": None, "value": "a0"}])
    message_log.append_segment(root, "t1", [{"key": None, "value": "b0"}])

    r = AckedMessageLogStreamReader(root, "s", topic_qos={"t0": 0, "t1": 1})
    assert r.initialOffset() == {"t0": 0, "t1": 0}
    end = r.latestOffset()  # plans delivery of both segments
    assert end == {"t0": 1, "t1": 1}
    # QoS 0 acked at delivery; QoS 1 still unacked (commit pending)
    assert ack_log.read_ack(root, "s") == {"t0": 1}

    # unclean restart before commit (fresh checkpoint, same subscription)
    r2 = AckedMessageLogStreamReader(root, "s", topic_qos={"t0": 0, "t1": 1})
    resumed = r2.initialOffset()
    assert resumed["t0"] == 1, "QoS 0 in-flight message must NOT be redelivered"
    assert resumed["t1"] == 0, "QoS 1 in-flight message must be redelivered"

    # clean path: commit acks everything cumulatively
    r2.latestOffset()
    r2.commit({"t0": 1, "t1": 1})
    assert ack_log.read_ack(root, "s") == {"t0": 1, "t1": 1}


def test_subscription_topic_filter_and_qos_options(spark, tmp_path):
    """Topic-filter subscription (MQTT wildcard subscribe) through the
    DataSource option surface: only matching streams are read; the qos
    option reaches the reader."""
    root = str(tmp_path / "log")
    ack_log.register(spark)
    message_log.append_segment(root, "sensor-a", [{"key": None, "value": "a"}])
    message_log.append_segment(root, "sensor-b", [{"key": None, "value": "b"}])
    message_log.append_segment(root, "other", [{"key": None, "value": "x"}])

    got = _drain_to_memory(
        spark,
        {"path": root, "subscription": "subf", "topics": "sensor-*", "qos": "0"},
        tmp_path,
        "topic_filter_run",
    )
    assert got == {"a", "b"}
    # qos=0 applied to all matched topics: delivery itself acked them
    assert ack_log.read_ack(root, "subf") == {"sensor-a": 1, "sensor-b": 1}


def _read_topic_values(root: str, topic: str) -> list[str]:
    import os
    from glob import glob

    out = []
    for seg in sorted(glob(os.path.join(root, topic, "*.jsonl"))):
        with open(seg) as f:
            out.extend(json.loads(line)["value"] for line in f)
    return out


def _flaky_publish(fail_flag: str):
    """Fails exactly once (while the flag file exists), then succeeds."""
    import os

    def pub(root, topic, recs):
        if os.path.exists(fail_flag):
            os.unlink(fail_flag)
            raise RuntimeError("broker down")
        message_log.append_segment(root, topic, recs)

    return pub


def test_mqtt_sink_qos1_retries_through_transient_failure(spark, tmp_path):
    from hazelcast_jet_contrib_spark.sinks.connectors import mqtt_sink

    root, flag = str(tmp_path / "log"), str(tmp_path / "fail")
    open(flag, "w").close()
    df = spark.createDataFrame([("m1",), ("m2",)], "v string")
    mqtt_sink(
        df.coalesce(1), root, "t", lambda r: r["v"],
        default_qos=1, publish_fn=_flaky_publish(flag),
        retry=RetryStrategy.constant(3, 0.01),
    )
    assert sorted(_read_topic_values(root, "t")) == ["m1", "m2"]


def test_mqtt_sink_qos0_drops_on_failure_without_error(spark, tmp_path):
    from hazelcast_jet_contrib_spark.sinks.connectors import mqtt_sink

    root, flag = str(tmp_path / "log"), str(tmp_path / "fail")
    open(flag, "w").close()
    df = spark.createDataFrame([("m1",), ("m2",)], "v string")
    # QoS 0 + broker down: messages dropped, job succeeds
    mqtt_sink(
        df.coalesce(1), root, "t", lambda r: r["v"],
        default_qos=0, publish_fn=_flaky_publish(flag),
    )
    assert _read_topic_values(root, "t") == []
    # broker back up: next publish delivers
    mqtt_sink(df.coalesce(1), root, "t", lambda r: r["v"], default_qos=0)
    assert sorted(_read_topic_values(root, "t")) == ["m1", "m2"]


def test_mqtt_sink_per_message_qos_fn(spark, tmp_path):
    """qos_fn is the per-message MqttMessage builder knob
    (MqttSinkBuilder.java:137-141): each record carries its own qos."""
    import os
    from glob import glob

    from hazelcast_jet_contrib_spark.sinks.connectors import mqtt_sink

    root = str(tmp_path / "log")
    df = spark.createDataFrame([("a", 0), ("b", 1), ("c", 2)], "v string, q int")
    mqtt_sink(df.coalesce(1), root, "t", lambda r: r["v"], qos_fn=lambda r: r["q"])
    recs = []
    for seg in sorted(glob(os.path.join(root, "t", "*.jsonl"))):
        with open(seg) as f:
            recs.extend(json.loads(line) for line in f)
    assert {r["value"]: r["properties"]["qos"] for r in recs} == {"a": 0, "b": 1, "c": 2}
