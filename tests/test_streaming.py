"""Streaming semantics tests — ports of the reference's fault-tolerance
contracts (SURVEY.md §5): exactly-once across restart
(RedisSourceTest.streamFaultTolerance:183-223 — 4 streams, kill &
rejoin, no loss/no dupes; PulsarSourceTest:126-196 — N before + N after
restart), watermark late-data drop, and windowed streaming aggregation.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.streaming import message_log
from hazelcast_jet_contrib_spark.streaming.exactly_once import (
    EpochCommitLog,
    epoch_keyed_parquet_writer,
    idempotent_foreach_batch,
)

N_STREAMS = 4
MSGS_PER_SEGMENT = 250


def _fill(root: str, n_segments: int, start_seq: int = 0) -> None:
    for s in range(N_STREAMS):
        for seg in range(start_seq, start_seq + n_segments):
            message_log.append_segment(
                root,
                f"stream-{s}",
                [
                    {"key": f"foo-{s}-{seg}-{i}", "value": f"bar-{i}"}
                    for i in range(MSGS_PER_SEGMENT)
                ],
                seq=seg,
            )


def test_message_log_exactly_once_across_restart(spark, tmp_path):
    """Phase 1: 4 streams x 2 segments; run to completion; stop. Phase 2:
    2 more segments per stream; restart from the same checkpoint; assert
    every (stream, seq, key) appears exactly once — offsets resumed from
    the WAL, nothing lost, nothing duplicated."""
    root = str(tmp_path / "log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(root)
    message_log.register(spark)

    _fill(root, 2)

    def run_query():
        stream = spark.readStream.format("message_log").option("path", root).load()
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(idempotent_foreach_batch(epoch_keyed_parquet_writer(out), ckpt + "-commits"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run_query()
    _fill(root, 2, start_seq=2)
    run_query()  # restart from checkpoint — the reference's member-rejoin

    result = spark.read.parquet(*glob.glob(f"{out}/epoch=*"))
    total = N_STREAMS * 4 * MSGS_PER_SEGMENT
    assert result.count() == total
    assert result.select("stream", "seq", "key").distinct().count() == total
    streams = {r["stream"] for r in result.select("stream").distinct().collect()}
    assert streams == {f"stream-{s}" for s in range(N_STREAMS)}


def test_idempotent_foreach_batch_rewound_epoch_raises(tmp_path):
    """A query restarted with a FRESH checkpoint replays epoch ids from 0:
    an epoch below the marker must raise, not be skipped as if it were a
    replay (the batch would be lost). A replay of the committed epoch
    stays a no-op."""
    written = []
    fn = idempotent_foreach_batch(
        lambda batch, epoch_id: written.append((batch, epoch_id)),
        str(tmp_path / "commits"),
    )
    fn("b0", 0)
    fn("b1", 1)
    fn("b1-replay", 1)
    assert written == [("b0", 0), ("b1", 1)]
    with pytest.raises(RuntimeError, match="rewinds behind"):
        fn("fresh-b0", 0)
    assert written == [("b0", 0), ("b1", 1)]


def test_epoch_commit_log_guards_and_snapshot_listing(tmp_path):
    """The one commit record of every exactly-once state directory: a
    replayed committed epoch is a no-op, an epoch below the marker
    raises, a URI state_dir is refused, and a listing capped at a
    captured snapshot excludes epochs committed after it."""
    state = str(tmp_path / "state")
    log = EpochCommitLog(state, "probe")
    assert log.committed() is None and log.epoch_dirs("rows") == []
    for epoch_id in (0, 1):
        assert log.begin(epoch_id)
        os.makedirs(log.epoch_dir("rows", epoch_id))
        log.commit(epoch_id)
    assert log.begin(1) is False  # replay of the committed epoch
    with pytest.raises(RuntimeError, match="rewinds behind"):
        log.begin(0)
    # a fresh incarnation reads the same record
    assert EpochCommitLog(state, "probe").committed() == 1
    for uri in ("s3a://bucket/state", "file:///tmp/state", "hdfs://nn/state"):
        with pytest.raises(ValueError, match="driver-local"):
            EpochCommitLog(uri, "probe")
    # a relative local path may contain a colon (e.g. a timestamp)
    assert EpochCommitLog("ckpt-2026-10-18T12:00/state", "probe").committed() is None

    snap = log.committed()
    os.makedirs(log.epoch_dir("rows", 2))
    assert log.epoch_dirs("rows") == [log.epoch_dir("rows", 0), log.epoch_dir("rows", 1)]
    log.commit(2)
    assert log.epoch_dirs("rows", up_to=snap) == [
        log.epoch_dir("rows", 0),
        log.epoch_dir("rows", 1),
    ]
    assert log.epoch_dirs("rows")[-1] == log.epoch_dir("rows", 2)

    # compaction: one generation + the epochs above its floor
    def write(kind, dirs, out):
        os.makedirs(out)

    assert log.compact(("rows",), write) is True
    assert log.compaction() == (2, 2)
    assert log.epoch_dirs("rows") == [log.generation_dir("rows", 2)]
    assert log.compact(("rows",), write) is False  # nothing new
    os.makedirs(log.epoch_dir("rows", 3))
    log.commit(3)
    assert log.epoch_dirs("rows") == [
        log.generation_dir("rows", 2),
        log.epoch_dir("rows", 3),
    ]


def test_state_dirs_in_a_former_layout_are_refused_or_read(spark, tmp_path):
    """State written before the shared commit record is either read as
    it was or refused loudly, never served as an empty state directory
    (which would merge the next batch into nothing and commit it)."""
    from hazelcast_jet_contrib_spark.streaming.cdc import (
        cdc_apply_database_foreach_batch,
        cdc_apply_foreach_batch,
        current_state,
        database_state,
    )
    from hazelcast_jet_contrib_spark.streaming.graph import StreamingPageRank

    def layout(name: str, marker: str | None, *entries: str) -> str:
        d = tmp_path / name
        d.mkdir()
        if marker is not None:
            (d / "_CURRENT").write_text(marker)
        for e in entries:
            if e.startswith("dir:"):
                (d / e[4:]).mkdir(parents=True)
            else:
                (d / e).write_text("committed")
        return str(d)

    # a marker that exists but does not parse is refused up front
    for marker in ("", "x", "1 2"):
        with pytest.raises(RuntimeError, match="corrupt or in a former layout"):
            EpochCommitLog(layout(f"bad{len(marker)}", marker, "dir:rows/e0"), "probe")

    # StreamingPageRank once carried its generation in the marker: "N gG"
    graph = layout("graph", "3 g3", "dir:edges/g3", "dir:edges/e3", "dir:ranks/e3")
    with pytest.raises(RuntimeError, match="corrupt or in a former layout"):
        StreamingPageRank(graph)

    # the CDC applies once named their version dirs v{N}
    table = layout("table", "1", "dir:v0", "dir:v1")
    with pytest.raises(RuntimeError, match="former on-disk layout"):
        cdc_apply_foreach_batch(table)
    with pytest.raises(RuntimeError, match="former on-disk layout"):
        current_state(spark, table)
    db = layout("db", "0", "dir:users/v0")
    with pytest.raises(RuntimeError, match="former on-disk layout"):
        cdc_apply_database_foreach_batch(db)
    with pytest.raises(RuntimeError, match="former on-disk layout"):
        database_state(spark, db, "users")
    # ... but a collection that is itself named like a version dir is fine
    cdc_apply_database_foreach_batch(layout("db_v1", "0", "dir:v1/e0"))

    # idempotent_foreach_batch once wrote one epoch-N file per epoch
    with pytest.raises(RuntimeError, match="former on-disk layout"):
        idempotent_foreach_batch(lambda b, e: None, layout("sink", None, "epoch-0", "epoch-1"))

    # the near-dup index layout is unchanged: its generations were
    # numbered 0, 1, ... apart from their floor, and still read
    dedup = layout("dedup", "3", "dir:compacted/g0/bands", "dir:bands/e3", "dir:bands/e2")
    (tmp_path / "dedup" / "_COMPACTED").write_text("2 0")
    log = EpochCommitLog(dedup, "probe")
    assert log.epoch_dirs("bands") == [
        os.path.join(dedup, "compacted", "g0", "bands"),
        os.path.join(dedup, "bands", "e3"),
    ]

    def write(kind, dirs, out):
        os.makedirs(out)

    assert log.compact(("bands",), write) is True
    assert log.compaction() == (3, 3)
    assert os.listdir(os.path.join(dedup, "compacted")) == ["g3"]
    assert log.epoch_dirs("bands") == [os.path.join(dedup, "compacted", "g3", "bands")]


def test_message_log_offsets_are_replayable(spark, tmp_path):
    """The source contract itself: a fresh reader given the same offset
    range returns identical rows (determinism under replay)."""
    root = str(tmp_path / "log")
    os.makedirs(root)
    _fill(root, 2)
    reader = message_log.MessageLogStreamReader(root)
    start, end = reader.initialOffset(), reader.latestOffset()
    parts = reader.partitions(start, end)
    rows1 = sorted(r for p in parts for r in reader.read(p))
    rows2 = sorted(r for p in reader.partitions(start, end) for r in reader.read(p))
    assert rows1 == rows2
    assert len(rows1) == N_STREAMS * 2 * MSGS_PER_SEGMENT


def test_producer_roundtrip_properties_and_event_time(spark, tmp_path):
    """producer_sink → message_log stream round-trips the FULL message:
    key, value, properties map, and event_time (PulsarSources.java:84-92
    parity — Pulsar messages carry key/properties/eventTime into the
    pipeline), and a streaming consumer can watermark + window on the
    read-back event_time instead of arrival time."""
    from hazelcast_jet_contrib_spark.sinks.connectors import producer_sink

    root = str(tmp_path / "log")
    rows = [(1, "a", 10_000), (2, "b", 12_000), (3, "c", 41_000)]
    df = spark.createDataFrame(rows, "id long, v string, ts long")
    producer_sink(
        df.coalesce(1),
        root,
        "t",
        value_fn=lambda r: r["v"],
        key_fn=lambda r: f"k{r['id']}",
        props_fn=lambda r: {"origin": "probe", "id": str(r["id"])},
        event_time_fn=lambda r: r["ts"],
    )
    message_log.register(spark)

    stream = spark.readStream.format("message_log").option("path", root).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("rt_msgs")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = {r["key"]: r for r in spark.sql("SELECT * FROM rt_msgs").collect()}
    assert set(got) == {"k1", "k2", "k3"}
    assert got["k1"]["properties"] == {"origin": "probe", "id": "1"}
    assert got["k2"]["event_time"] == 12_000
    assert {r["value"] for r in got.values()} == {"a", "b", "c"}

    # watermark on the read-back event_time: 10s tumbling windows,
    # 5s delay. Batch 1 ends with watermark 41s-5s=36s > window [10,20)'s
    # end, so appending one more late-ish segment (a new batch) flushes
    # the closed window to the append-mode sink.
    windowed = (
        stream.withColumn("et", F.timestamp_millis(F.col("event_time")))
        .withWatermark("et", "5 seconds")
        .groupBy(F.window("et", "10 seconds").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q2 = (
        windowed.writeStream.format("memory")
        .queryName("rt_windows")
        .outputMode("append")
        .start()
    )
    q2.processAllAvailable()
    message_log.append_segment(
        root, "t", [{"key": "k4", "value": "d", "event_time": 45_000}]
    )
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    closed = {
        r["ws"].second + r["ws"].minute * 60: r["n"]
        for r in spark.sql("SELECT * FROM rt_windows").collect()
    }
    assert closed.get(10) == 2, f"window [10s,20s) must close with 2 events: {closed}"


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Tumbling-window streaming aggregation in append mode: windows
    close once the watermark passes; a record arriving later than the
    watermark delay for an already-closed window is dropped."""
    src = str(tmp_path / "src")
    os.makedirs(src)

    from datetime import datetime

    def write_batch(name, rows):
        rows = [(datetime.fromisoformat(ts), k, v) for ts, k, v in rows]
        spark.createDataFrame(rows, "ts timestamp, k string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: events in minutes 0-2, plus a row at minute 30 to advance the watermark
    write_batch(
        "b1",
        [
            ("2024-01-01 00:00:10", "a", 1.0),
            ("2024-01-01 00:01:10", "a", 2.0),
            ("2024-01-01 00:30:00", "z", 0.0),
        ],
    )

    stream = (
        spark.readStream.schema("ts timestamp, k string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes"), F.col("k"))
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "k", "total", "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a late record for the long-closed first window — must be dropped
        write_batch("b2", [("2024-01-01 00:02:00", "a", 100.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r["ws"].isoformat(), r["k"]): (r["total"], r["n"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    key = ("2024-01-01T00:00:00", "a")
    assert key in rows, rows
    assert rows[key] == (3.0, 2), "late row leaked into a closed window"


def test_ingestion_timestamps_policy(spark):
    from hazelcast_jet_contrib_spark.streaming.timestamps import (
        with_ingestion_timestamps,
        with_native_timestamps,
    )

    df = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "id long, raw string")
    nat = with_native_timestamps(df, "raw")
    assert dict(nat.dtypes)["event_time"] == "timestamp"
    ing = with_ingestion_timestamps(df)
    assert dict(ing.dtypes)["event_time"] == "timestamp"


@pytest.mark.slow
def test_exactly_once_4_streams_10k_mid_stream_restart(spark, tmp_path):
    """The reference's largest fault-tolerance workload at full volume
    (RedisSourceTest.java:183-223: 4 streams x 10,000 messages, member
    shutdown mid-stream, no loss / no dupes): here the query is stopped
    UNCLEANLY mid-stream — admission control (maxSegmentsPerTrigger)
    paces the first run and it is killed after a few micro-batches, with
    most of the log still unread — then a new query on the same
    checkpoint drains the rest. Every (stream, seq, key) must appear
    exactly once across both runs."""
    msgs_per_stream = 10_000
    n_segments = msgs_per_stream // MSGS_PER_SEGMENT  # 40 segments/stream
    root = str(tmp_path / "log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(root)
    message_log.register(spark)

    def start_query(max_seg_per_trigger=None):
        stream = spark.readStream.format("message_log").option("path", root)
        if max_seg_per_trigger is not None:
            stream = stream.option("maxSegmentsPerTrigger", str(max_seg_per_trigger))
        return (
            stream.load()
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(
                idempotent_foreach_batch(epoch_keyed_parquet_writer(out), ckpt + "-commits")
            )
            .start()
        )

    import time as _t

    def wait_for_batch(q, batch_id, timeout=120):
        deadline = _t.monotonic() + timeout
        while _t.monotonic() < deadline:
            p = q.lastProgress
            if p is not None and p["batchId"] >= batch_id:
                return p["batchId"]
            _t.sleep(0.2)
        raise TimeoutError(f"query never reached batch {batch_id}")

    # run 1: a 4-segment prefix exists at start (batch 0 is unclamped by
    # admission control); the remaining 36 segments/stream land while the
    # query runs, paced at 2 segments/stream/trigger — then the query is
    # killed with most of the log still unread.
    _fill(root, 4)
    q = start_query(max_seg_per_trigger=2)
    reached = wait_for_batch(q, 1)
    _fill(root, n_segments - 4, start_seq=4)
    wait_for_batch(q, reached + 3)
    q.stop()  # mid-stream kill
    q.awaitTermination()

    consumed_so_far = spark.read.parquet(*glob.glob(f"{out}/epoch=*")).count()
    total = N_STREAMS * msgs_per_stream
    assert 0 < consumed_so_far < total, "restart must happen mid-stream"

    # run 2: same checkpoint, unpaced — drain the rest
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    result = spark.read.parquet(*glob.glob(f"{out}/epoch=*"))
    assert result.count() == total, "loss or duplication across restart"
    assert result.select("stream", "seq", "key").distinct().count() == total
    per_stream = {
        r["stream"]: r["n"]
        for r in result.groupBy("stream").agg(F.count("*").alias("n")).collect()
    }
    assert per_stream == {f"stream-{s}": msgs_per_stream for s in range(N_STREAMS)}


def test_idle_stream_does_not_stall_watermark(spark, tmp_path):
    """SURVEY §7 risk 2, demonstrated: Jet's per-partition watermark
    needs idle-source detection (flatMapIdle, RedisSources.java:587) or
    an idle stream stalls window finalization forever. Spark's
    watermark is GLOBAL (max event time seen minus delay), so an idle
    stream cannot stall it: with stream B silent, stream A's progress
    alone finalizes the append-mode window — including B's own rows
    from before it went idle. The flip side (the actual deviation to
    plan around): a straggler event on the idle stream that arrives
    after the globally-advanced watermark is DROPPED, where Jet would
    have held the watermark until B's idle timeout."""
    root = str(tmp_path / "log")
    os.makedirs(root)
    message_log.register(spark)

    def emit(stream, minute, n):
        message_log.append_segment(
            root,
            stream,
            [
                {"key": f"{stream}-{minute}-{i}", "value": "x",
                 "event_time": minute * 60_000 + i}
                for i in range(n)
            ],
        )

    # both streams emit in window [0, 1min)
    emit("a", 0, 5)
    emit("b", 0, 3)

    stream = (
        spark.readStream.format("message_log")
        .option("path", root)
        .load()
        .withColumn("ts", F.timestamp_millis("event_time"))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 minute"), "stream")
        .count()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("idle_wm")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode emits nothing yet: watermark is still inside W1
        assert spark.sql("SELECT * FROM idle_wm").count() == 0

        # B goes idle; only A advances, far past W1 + delay
        emit("a", 10, 2)
        q.processAllAvailable()
        got = {
            (r["stream"], r["window"].start.minute, r["count"])
            for r in spark.sql("SELECT * FROM idle_wm").collect()
        }
        # W1 finalized for BOTH streams though B never spoke again
        assert ("a", 0, 5) in got and ("b", 0, 3) in got, got

        # straggler on the idle stream, inside the long-closed W1:
        # dropped by the global watermark (the documented deviation)
        emit("b", 0, 1)
        q.processAllAvailable()
        after = spark.sql(
            "SELECT count(*) AS n FROM idle_wm WHERE stream = 'b'"
        ).collect()[0]["n"]
        assert after == 1, "late event on idle stream must be dropped, not re-emitted"
    finally:
        q.stop()
        q.awaitTermination()


def test_append_segment_seq_hint_fast_path_and_collision_fallback(tmp_path):
    """r18: a sole producer can pass seq_hint=last+1 to skip the
    per-append directory scan; a stale/colliding hint must fall back to
    the scan — hinted and unhinted appends interleave into one dense,
    gap-free sequence with every record intact."""
    from hazelcast_jet_contrib_spark.streaming import message_log

    root, stream = str(tmp_path), "s"
    s0 = message_log.append_segment(root, stream, [{"k": "a", "value": "0"}])
    assert s0 == 0
    # hinted fast path
    s1 = message_log.append_segment(
        root, stream, [{"k": "b", "value": "1"}], seq_hint=s0 + 1
    )
    assert s1 == 1
    # another producer (no hint) takes seq 2 ...
    s2 = message_log.append_segment(root, stream, [{"k": "c", "value": "2"}])
    assert s2 == 2
    # ... making the first producer's hint (2) stale: collision must
    # fall back to the scan and land on 3, never clobber or drop
    s3 = message_log.append_segment(
        root, stream, [{"k": "d", "value": "3"}], seq_hint=s1 + 1
    )
    assert s3 == 3
    import glob
    import os

    names = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(root, stream, "*.jsonl"))
    )
    assert names == ["000000.jsonl", "000001.jsonl", "000002.jsonl", "000003.jsonl"]
    import json as _json

    vals = []
    for n in names:
        with open(os.path.join(root, stream, n)) as f:
            vals += [_json.loads(line)["value"] for line in f]
    assert vals == ["0", "1", "2", "3"]
