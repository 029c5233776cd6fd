"""Round-12 real-client adapters: InfluxDB (influxdb-client) and Pulsar
(pulsar-client) bindings for the existing builder boundaries
(VERDICT r11 next-round #4/#5 — the round-11 redis/pymongo/paho recipe).

Tier structure, same as tests/test_real_clients.py:
- tier 1 (every run): factored pure functions against fake client
  objects — the glue logic (record mapping, chunked drain, replay
  offsets, extractor routing) proven without a server or Spark;
- tier 2 (every run): e2e through REAL Spark tasks with a stub module
  injected via addPyFile under the real library's import name —
  proves the lambdas serialize, clients are created inside tasks, and
  partition/pushdown wiring holds across process boundaries;
- tier 3 (marker-skipped): live servers, the reference's quarantined
  NightlyTest discipline (TwitterSourceTest.java:49).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from importlib.util import find_spec

import pytest

from hazelcast_jet_contrib_spark.real_clients import (
    influx_flux_records,
    influx_long_record_fn,
    influx_sink,
    influx_source,
    pulsar_producer_sink,
    pulsar_read_fn,
    pulsar_reader_source,
)
from hazelcast_jet_contrib_spark.sinks.builder import RetryStrategy

# Driver-tier split (VERDICT r17 item 3): protocol robustness — full tier only.
pytestmark = [pytest.mark.slow]


# ---------------------------------------------------------------------------
# tier 1: InfluxDB record mapping + chunked drain, fake objects
# ---------------------------------------------------------------------------


class _FluxRec:
    def __init__(self, m, tag, t, f, v):
        self._m, self._t, self._f, self._v = m, t, f, v
        self.values = {"host": tag}

    def get_measurement(self):
        return self._m

    def get_time(self):
        return self._t

    def get_field(self):
        return self._f

    def get_value(self):
        return self._v


class _FakeQueryApi:
    def __init__(self, recs, log):
        self._recs, self._log = recs, log

    def query_stream(self, flux):
        self._log.append(flux)
        yield from self._recs


class _FakeInfluxClient:
    def __init__(self, recs):
        self.queries: list[str] = []
        self._recs = recs

    def query_api(self):
        return _FakeQueryApi(self._recs, self.queries)


def test_influx_long_record_fn_maps_flux_record_and_keeps_tz():
    """The store's UTC time stays tz-aware: Spark would read a naive
    value in the session time zone."""
    t = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    row = influx_long_record_fn("host")(_FluxRec("cpu", "h1", t, "usage", 7))
    assert row == {
        "measurement": "cpu",
        "tag": "h1",
        "time": t,
        "field": "usage",
        "val": 7.0,
    }
    assert row["time"].tzinfo is not None
    assert isinstance(row["val"], float)


def test_point_record_is_host_tz_independent():
    """The row -> point mapping shared by point_sink and influx_sink
    writes the instant Spark holds on any host timezone. A
    foreachPartition row carries ``TimestampType.fromInternal(us)``, a
    naive datetime in the PROCESS-local zone, so reading a naive value
    as UTC shifts every point by the host's UTC offset. Force a non-UTC
    process TZ, feed the mapping the value Spark hands a sink, and
    assert the UTC epoch (computed without any local-time call)."""
    import time as _time

    from pyspark.sql.types import TimestampType

    from hazelcast_jet_contrib_spark.sinks.connectors import point_record_fn

    def epoch_ns(ts):
        return point_record_fn("cpu", "ts", [], [], precision="ns")({"ts": ts})["time"]

    us = 1704164645 * 1_000_000  # 2024-01-02 03:04:05 UTC
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-5: the bug would shift 5h
    _time.tzset()
    try:
        assert epoch_ns(TimestampType().fromInternal(us)) == us * 1_000
        # tz-aware values keep their own zone
        aware = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
        assert epoch_ns(aware) == us * 1_000
        # bare ints are epoch seconds
        assert epoch_ns(1704164645) == 1704164645 * 1_000_000_000
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()


def test_influx_flux_records_streams_through_query_api():
    recs = [_FluxRec("cpu", "h1", datetime(2024, 1, 1), "usage", i) for i in range(3)]
    c = _FakeInfluxClient(recs)
    got = list(influx_flux_records(c, 'from(bucket:"b") |> range(start: 0)'))
    assert got == recs
    assert c.queries == ['from(bucket:"b") |> range(start: 0)']


# ---------------------------------------------------------------------------
# tier 1: Pulsar reader drain + replay offset, fake objects
# ---------------------------------------------------------------------------


class _MsgId:
    earliest = None  # replaced below

    def __init__(self, idx):
        self.idx = idx

    def serialize(self):
        return self.idx.to_bytes(4, "big")

    @staticmethod
    def deserialize(b):
        return _MsgId(int.from_bytes(b, "big"))


_MsgId.earliest = _MsgId(-1)


class _Msg:
    def __init__(self, idx, value, key=None, props=None, ev=0):
        self._idx, self._v, self._k, self._p, self._e = idx, value, key, props, ev

    def data(self):
        return self._v

    def partition_key(self):
        return self._k or ""

    def properties(self):
        return self._p or {}

    def event_timestamp(self):
        return self._e

    def message_id(self):
        return _MsgId(self._idx)


class _FakeReader:
    def __init__(self, msgs, start_idx):
        self._msgs = msgs
        self._pos = start_idx + 1  # exclusive resume
        self.closed = False

    def has_message_available(self):
        return self._pos < len(self._msgs)

    def read_next(self, timeout_millis=None):
        m = self._msgs[self._pos]
        self._pos += 1
        return m

    def close(self):
        self.closed = True


class _FakePulsarClient:
    def __init__(self, msgs_by_topic):
        self._m = msgs_by_topic
        self.readers: list[_FakeReader] = []

    def create_reader(self, topic, start_message_id=None):
        start = start_message_id.idx if start_message_id is not None else -1
        r = _FakeReader(self._m[topic], start)
        self.readers.append(r)
        return r


class _FakePulsarModule:
    MessageId = _MsgId


def _mk_msgs(n, topic="t"):
    return [
        _Msg(i, f"{topic}-v{i}".encode(), key=f"k{i % 2}", props={"p": str(i)}, ev=100 + i)
        for i in range(n)
    ]


def test_pulsar_read_fn_drains_from_earliest_and_closes_reader():
    client = _FakePulsarClient({"t": _mk_msgs(4)})
    rows = list(pulsar_read_fn(_FakePulsarModule, client, "t"))
    assert [r["value"] for r in rows] == [b"t-v0", b"t-v1", b"t-v2", b"t-v3"]
    assert rows[0]["properties"] == {"p": "0"}
    assert rows[2]["event_time"] == 102
    assert client.readers[0].closed


def test_pulsar_read_fn_resumes_exclusively_after_stored_offset():
    """The MessageLogStreamReader offset contract: the checkpointed id
    names the last PROCESSED message, resume starts strictly after it
    (PulsarReaderBuilder.java:156-199 startMessageId replay)."""
    client = _FakePulsarClient({"t": _mk_msgs(5)})
    first = list(pulsar_read_fn(_FakePulsarModule, client, "t"))
    mid_offset = first[2]["message_id"]  # processed through v2
    client2 = _FakePulsarClient({"t": _mk_msgs(5)})
    rest = list(pulsar_read_fn(_FakePulsarModule, client2, "t", start_after=mid_offset))
    assert [r["value"] for r in rest] == [b"t-v3", b"t-v4"]


# ---------------------------------------------------------------------------
# tier 2: e2e through Spark tasks with injected stub modules
# ---------------------------------------------------------------------------

_FAKE_INFLUX_SRC = r'''
"""Injected influxdb_client stub: a file-backed 'server'. The client
url's ?dir= names a directory of rows.jsonl; query_stream parses the
`range(start: N, stop: M)` clause out of the flux text and filters
server-side (the pushdown the adapter promises). write_api records
points + the requested write_options to disk."""
import json, os, re, urllib.parse
from datetime import datetime, timezone

SYNCHRONOUS = "SYNCHRONOUS"


class _Rec:
    def __init__(self, d):
        self._d = d
        self.values = dict(d.get("tags", {}))

    def get_measurement(self):
        return self._d["measurement"]

    def get_time(self):
        # the real FluxRecord's time is a tz-aware UTC datetime
        return datetime.fromtimestamp(self._d["epoch"], tz=timezone.utc)

    def get_field(self):
        return self._d["field"]

    def get_value(self):
        return self._d["val"]


class _QueryApi:
    def __init__(self, dir_):
        self._dir = dir_

    def query_stream(self, flux):
        m = re.search(r"range\(start:\s*(\d+),\s*stop:\s*(\d+)\)", flux)
        lo, hi = (int(m.group(1)), int(m.group(2))) if m else (0, 1 << 60)
        with open(os.path.join(self._dir, "rows.jsonl")) as f:
            for line in f:
                d = json.loads(line)
                if lo <= d["epoch"] < hi:
                    yield _Rec(d)


class Point:
    def __init__(self, measurement):
        self._d = {"measurement": measurement, "tags": {}, "fields": {}}

    def tag(self, k, v):
        self._d["tags"][k] = v
        return self

    def field(self, k, v):
        self._d["fields"][k] = v
        return self

    def time(self, t, precision):
        self._d["time"], self._d["precision"] = t, precision
        return self


class WritePrecision:
    NS, US, MS, S = "ns", "us", "ms", "s"


class _WriteApi:
    def __init__(self, dir_, options, fault_dir=""):
        self._dir, self._options, self._fault_dir = dir_, options, fault_dir

    def write(self, bucket, org, record):
        if self._fault_dir:
            # Toxiproxy-parity schedule (fault_injection) — executor-side
            from hazelcast_jet_contrib_spark.fault_injection import apply_fault

            return apply_fault(
                self._fault_dir, "write", self._write_impl, bucket, org, record
            )
        return self._write_impl(bucket, org, record)

    def _write_impl(self, bucket, org, record):
        flag = os.path.join(self._dir, "fail-once")
        if os.path.exists(flag):
            os.remove(flag)
            raise ConnectionError("influx write failed (injected)")
        p = os.path.join(self._dir, "writes-%d-%d.jsonl" % (os.getpid(), id(record)))
        with open(p, "a") as f:
            for pt in record:
                f.write(json.dumps({
                    "bucket": bucket, "org": org, "options": self._options, **pt._d,
                }) + "\n")


class InfluxDBClient:
    def __init__(self, url, token, org):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        self._dir = q.get("dir", [""])[0]
        self._fault_dir = q.get("fault_dir", [""])[0]
        self.org = org

    def query_api(self):
        return _QueryApi(self._dir)

    def write_api(self, write_options=None):
        return _WriteApi(self._dir, write_options, self._fault_dir)

    def close(self):
        pass
'''

_FAKE_PULSAR_SRC = r'''
"""Injected pulsar stub: a file-backed 'broker'. serviceUrl's ?dir=
names a directory with <topic>.jsonl message logs; readers replay them
from a MessageId, producers append (with key/properties/event_time)."""
import json, os, urllib.parse


class MessageId:
    def __init__(self, idx):
        self.idx = idx

    def serialize(self):
        return self.idx.to_bytes(4, "big")

    @staticmethod
    def deserialize(b):
        return MessageId(int.from_bytes(bytes(b), "big"))


MessageId.earliest = MessageId(-1)


class _Msg:
    def __init__(self, idx, d):
        self._idx, self._d = idx, d

    def data(self):
        return self._d["value"].encode()

    def partition_key(self):
        return self._d.get("key") or ""

    def properties(self):
        return self._d.get("properties") or {}

    def event_timestamp(self):
        return self._d.get("event_time") or 0

    def message_id(self):
        return MessageId(self._idx)


class _Reader:
    def __init__(self, path, start_idx):
        self._msgs = []
        if os.path.exists(path):
            with open(path) as f:
                self._msgs = [json.loads(l) for l in f]
        self._pos = start_idx + 1

    def has_message_available(self):
        return self._pos < len(self._msgs)

    def read_next(self, timeout_millis=None):
        m = _Msg(self._pos, self._msgs[self._pos])
        self._pos += 1
        return m

    def close(self):
        pass


class _Producer:
    def __init__(self, dir_, topic, fault_dir=""):
        self._dir, self._topic, self._fault_dir = dir_, topic, fault_dir

    def send(self, content, partition_key=None, properties=None, event_timestamp=None):
        if self._fault_dir:
            # Toxiproxy-parity schedule (fault_injection) — executor-side
            from hazelcast_jet_contrib_spark.fault_injection import apply_fault

            return apply_fault(
                self._fault_dir, "send", self._send_impl,
                content, partition_key, properties, event_timestamp,
            )
        return self._send_impl(content, partition_key, properties, event_timestamp)

    def _send_impl(self, content, partition_key, properties, event_timestamp):
        flag = os.path.join(self._dir, "fail-once")
        if os.path.exists(flag):
            os.remove(flag)
            raise ConnectionError("pulsar send failed (injected)")
        with open(os.path.join(self._dir, self._topic + ".out.jsonl"), "a") as f:
            f.write(json.dumps({
                "value": bytes(content).decode(),
                "key": partition_key,
                "properties": properties,
                "event_time": event_timestamp,
            }) + "\n")

    def close(self):
        pass


class Client:
    def __init__(self, service_url):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(service_url).query)
        self._dir = q.get("dir", [""])[0]
        self._fault_dir = q.get("fault_dir", [""])[0]

    def create_reader(self, topic, start_message_id=None):
        idx = start_message_id.idx if start_message_id is not None else -1
        return _Reader(os.path.join(self._dir, topic + ".jsonl"), idx)

    def create_producer(self, topic):
        return _Producer(self._dir, topic, self._fault_dir)

    def close(self):
        pass
'''


@pytest.fixture(scope="module")
def fake_influx_on_executors(spark, tmp_path_factory):
    if find_spec("influxdb_client") is not None:  # pragma: no cover - live env
        pytest.skip("real influxdb-client installed; stub would shadow it")
    d = tmp_path_factory.mktemp("fake_influx")
    mod = d / "influxdb_client.py"
    mod.write_text(_FAKE_INFLUX_SRC)
    spark.sparkContext.addPyFile(str(mod))
    return spark


@pytest.fixture(scope="module")
def fake_pulsar_on_executors(spark, tmp_path_factory):
    if find_spec("pulsar") is not None:  # pragma: no cover - live env
        pytest.skip("real pulsar-client installed; stub would shadow it")
    d = tmp_path_factory.mktemp("fake_pulsar")
    mod = d / "pulsar.py"
    mod.write_text(_FAKE_PULSAR_SRC)
    spark.sparkContext.addPyFile(str(mod))
    return spark


def test_influx_source_e2e_range_sharded_fluxes_push_down(
    fake_influx_on_executors, tmp_path
):
    """Two partition fluxes = two disjoint server-side time ranges; the
    union is complete, per-task rows come only from that task's range
    (InfluxDbSources.java:57 query-text pushdown parity)."""
    spark = fake_influx_on_executors
    store = tmp_path / "influx"
    store.mkdir()
    with open(store / "rows.jsonl", "w") as f:
        for i in range(20):
            f.write(
                json.dumps(
                    {
                        "measurement": "cpu",
                        "tags": {"host": f"h{i % 3}"},
                        "epoch": 1000 + i,
                        "field": "usage",
                        "val": float(i),
                    }
                )
                + "\n"
            )
    tmpl = 'from(bucket:"b") |> range(start: %d, stop: %d)'
    df = influx_source(
        spark,
        f"http://fake:8086/?dir={store}",
        token="tk",
        org="o",
        partition_fluxes=[tmpl % (1000, 1010), tmpl % (1010, 1020)],
        schema="measurement string, tag string, time timestamp, field string, val double",
        record_fn=influx_long_record_fn("host"),
    )
    assert df.rdd.getNumPartitions() == 2
    rows = sorted((r["val"], r["tag"]) for r in df.collect())
    assert rows == [(float(i), f"h{i % 3}") for i in range(20)]


def test_influx_source_reads_the_utc_instant_in_a_non_utc_session(
    fake_influx_on_executors, tmp_path
):
    """A point at 2024-01-02T03:04:05Z reads back as that instant with
    the session time zone at America/New_York (a naive time would read
    5 h late)."""
    from pyspark.sql import functions as F

    spark = fake_influx_on_executors
    store = tmp_path / "influx_tz"
    store.mkdir()
    epoch = 1704164645  # 2024-01-02T03:04:05Z
    rec = {"measurement": "cpu", "tags": {"host": "h1"}, "epoch": epoch,
           "field": "usage", "val": 1.0}
    (store / "rows.jsonl").write_text(json.dumps(rec) + "\n")
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = influx_source(
            spark,
            f"http://fake:8086/?dir={store}",
            token="tk",
            org="o",
            partition_fluxes=['from(bucket:"b") |> range(start: 0, stop: 2000000000)'],
            schema="measurement string, tag string, time timestamp, field string, val double",
            record_fn=influx_long_record_fn("host"),
        )
        got = [r[0] for r in df.select(F.unix_micros("time")).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got == [epoch * 1_000_000]


def test_influx_sink_e2e_points_batched_synchronous_with_retry(
    fake_influx_on_executors, tmp_path
):
    """Rows -> Point(tags, fields, time@precision) through a SYNCHRONOUS
    write_api; an injected first-write failure is resent whole by the
    retry strategy (safe: influx upserts on measurement+tagset+time)."""
    spark = fake_influx_on_executors
    store = tmp_path / "influx_sink"
    store.mkdir()
    (store / "fail-once").write_text("")
    df = spark.sql(
        "SELECT timestamp'2024-01-02 03:04:05' AS ts, 'h1' AS host, "
        "CAST(id AS DOUBLE) AS usage FROM range(6)"
    ).coalesce(1)
    influx_sink(
        df,
        f"http://fake:8086/?dir={store}",
        token="tk",
        org="o",
        bucket="b",
        measurement="cpu",
        time_col="ts",
        tag_cols=["host"],
        field_cols=["usage"],
        precision="ms",
        batch_size=100,
        retry=RetryStrategy.constant(3, 0.01),
    )
    pts = []
    for p in store.glob("writes-*.jsonl"):
        for line in open(p):
            pts.append(json.loads(line))
    assert len(pts) == 6
    assert {p["options"] for p in pts} == {"SYNCHRONOUS"}
    assert all(p["tags"] == {"host": "h1"} and p["precision"] == "ms" for p in pts)
    assert sorted(p["fields"]["usage"] for p in pts) == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    # ms epoch of the literal computed WITHOUT any local-time call: the
    # session TZ is UTC, so the literal is that UTC instant. The naive
    # timestamp Spark hands the sink is process-local wall-clock
    # (TimestampType.fromInternal), and the sink reads it in that same
    # zone — the expectation must hold on any host TZ.
    expect_ms = int(
        datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc).timestamp() * 1000
    )
    assert {p["time"] for p in pts} == {expect_ms}


def test_influx_sink_timeout_fault_retry_engages_exactly_once(
    fake_influx_on_executors, tmp_path
):
    """Toxiproxy-parity schedule (VERDICT r12 #3): write #1 hits a
    half-open connection — slept, then TimeoutError, POINTS NEVER
    DELIVERED — so the retry's second write is exactly-once safe even
    before Influx's (measurement, tagset, time) upsert idempotence
    kicks in. Assert the retry engaged and the store holds each point
    exactly once."""
    from hazelcast_jet_contrib_spark.fault_injection import write_schedule

    spark = fake_influx_on_executors
    store = tmp_path / "influx_fault"
    store.mkdir()
    sched = tmp_path / "influx_sched"
    write_schedule(
        str(sched),
        [{"method": "write", "call": 1, "action": "timeout", "seconds": 0.01}],
    )
    df = spark.sql(
        "SELECT timestamp'2024-03-04 05:06:07' AS ts, 'h9' AS host, "
        "CAST(id AS DOUBLE) AS usage FROM range(5)"
    ).coalesce(1)
    influx_sink(
        df,
        f"http://fake:8086/?dir={store}&fault_dir={sched}",
        token="tk",
        org="o",
        bucket="b",
        measurement="cpu",
        time_col="ts",
        tag_cols=["host"],
        field_cols=["usage"],
        precision="ms",
        batch_size=100,
        retry=RetryStrategy.constant(3, 0.01),
    )
    pts = []
    for p in store.glob("writes-*.jsonl"):
        for line in open(p):
            pts.append(json.loads(line))
    # timeout never delivered -> the retry's redelivery is the ONLY copy
    assert sorted(p["fields"]["usage"] for p in pts) == [0.0, 1.0, 2.0, 3.0, 4.0]
    # and the schedule consumed two write calls (1 faulted, 2 clean)
    assert len(list(sched.glob("write.calls.*"))) == 2


def test_influx_sink_rejects_unknown_precision(spark):
    with pytest.raises(ValueError, match="precision"):
        influx_sink(
            spark.range(1).selectExpr("current_timestamp() AS ts", "1.0 AS v"),
            "http://x", "t", "o", "b", "m", "ts", [], ["v"], precision="h",
        )


def test_pulsar_reader_source_e2e_two_topics_with_replay_offsets(
    fake_pulsar_on_executors, tmp_path
):
    spark = fake_pulsar_on_executors
    broker = tmp_path / "pulsar"
    broker.mkdir()
    for topic in ("ta", "tb"):
        with open(broker / f"{topic}.jsonl", "w") as f:
            for i in range(5):
                f.write(
                    json.dumps(
                        {
                            "value": f"{topic}-v{i}",
                            "key": f"k{i}",
                            "properties": {"n": str(i)},
                            "event_time": 100 + i,
                        }
                    )
                    + "\n"
                )
    url = f"pulsar://fake:6650/?dir={broker}"
    df = pulsar_reader_source(spark, url, ["ta", "tb"])
    assert df.rdd.getNumPartitions() == 2
    rows = df.collect()
    assert len(rows) == 10
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r["topic"], []).append(r)
    assert [bytes(r["value"]).decode() for r in by_topic["ta"]] == [
        f"ta-v{i}" for i in range(5)
    ]
    assert by_topic["tb"][3]["properties"]["n"] == "3"
    assert by_topic["tb"][3]["event_time"] == 103
    # replay: resume ta strictly after message 2 using the emitted offset
    off = bytes(by_topic["ta"][2]["message_id"])
    df2 = pulsar_reader_source(spark, url, ["ta"], start_after={"ta": off})
    assert [bytes(r["value"]).decode() for r in df2.collect()] == ["ta-v3", "ta-v4"]


def test_pulsar_producer_sink_e2e_extractors_and_retry(
    fake_pulsar_on_executors, tmp_path
):
    spark = fake_pulsar_on_executors
    broker = tmp_path / "pulsar_sink"
    broker.mkdir()
    (broker / "fail-once").write_text("")
    df = spark.sql(
        "SELECT id, concat('v', id) AS v, concat('k', id % 2) AS k FROM range(4)"
    ).coalesce(1)
    pulsar_producer_sink(
        df,
        f"pulsar://fake:6650/?dir={broker}",
        "out",
        value_fn=lambda r: r["v"].encode(),
        key_fn=lambda r: r["k"],
        props_fn=lambda r: {"id": r["id"]},
        event_time_fn=lambda r: 1000 + r["id"],
        batch_size=100,
        retry=RetryStrategy.constant(3, 0.01),
    )
    sent = [json.loads(l) for l in open(broker / "out.out.jsonl")]
    # the injected first-send failure killed the batch mid-flight; the
    # retry resends the WHOLE buffer — at-least-once, so dedupe by value
    by_val = {s["value"]: s for s in sent}
    assert sorted(by_val) == ["v0", "v1", "v2", "v3"]
    assert by_val["v3"] == {
        "value": "v3",
        "key": "k1",
        "properties": {"id": "3"},
        "event_time": 1003,
    }


def test_pulsar_producer_error_after_redelivers_then_dedupes(
    fake_pulsar_on_executors, tmp_path
):
    """Toxiproxy-parity schedule (VERDICT r12 #3): send #2's RESPONSE
    is lost — the broker APPLIED it, the producer saw a failure — so
    the retry resends the whole buffer and the topic log shows the
    duplication (at-least-once visible). Dedupe by key/value — the
    acked-log absorb discipline the reader side documents — restores
    exactly the input set."""
    from hazelcast_jet_contrib_spark.fault_injection import write_schedule

    spark = fake_pulsar_on_executors
    broker = tmp_path / "pulsar_fault"
    broker.mkdir()
    sched = tmp_path / "pulsar_sched"
    write_schedule(
        str(sched), [{"method": "send", "call": 2, "action": "error_after"}]
    )
    df = spark.sql(
        "SELECT id, concat('v', id) AS v, concat('k', id) AS k FROM range(4)"
    ).coalesce(1)
    pulsar_producer_sink(
        df,
        f"pulsar://fake:6650/?dir={broker}&fault_dir={sched}",
        "out",
        value_fn=lambda r: r["v"].encode(),
        key_fn=lambda r: r["k"],
        batch_size=100,
        retry=RetryStrategy.constant(3, 0.01),
    )
    sent = [json.loads(l) for l in open(broker / "out.out.jsonl")]
    values = [s["value"] for s in sent]
    # attempt 1 delivered v0 and v1 (v1's ack lost), the retry resent
    # the whole buffer: v1 is duplicated, at-least-once is visible...
    assert values == ["v0", "v1", "v0", "v1", "v2", "v3"]
    assert values.count("v1") == 2
    # ...and dedupe by key restores exactly the input set
    by_key = {s["key"]: s["value"] for s in sent}
    assert by_key == {f"k{i}": f"v{i}" for i in range(4)}


# ---------------------------------------------------------------------------
# tier 3: live servers (marker-skipped in this container)
# ---------------------------------------------------------------------------


@pytest.mark.live
@pytest.mark.skipif(
    find_spec("influxdb_client") is None, reason="influxdb-client not installed"
)
def test_live_influx_roundtrip(spark):  # pragma: no cover - live only
    url = os.environ.get("SPARK_GRAFT_INFLUX_URL")
    if not url:
        pytest.skip("SPARK_GRAFT_INFLUX_URL not set")
    token, org = os.environ["SPARK_GRAFT_INFLUX_TOKEN"], os.environ["SPARK_GRAFT_INFLUX_ORG"]
    df = spark.sql(
        "SELECT current_timestamp() AS ts, 'live' AS host, CAST(id AS DOUBLE) AS v "
        "FROM range(10)"
    )
    influx_sink(df, url, token, org, "sg_live", "sg_rt", "ts", ["host"], ["v"])
    back = influx_source(
        spark, url, token, org,
        ['from(bucket:"sg_live") |> range(start: -1h) '
         '|> filter(fn: (r) => r._measurement == "sg_rt")'],
        schema="measurement string, tag string, time timestamp, field string, val double",
        record_fn=influx_long_record_fn("host"),
    )
    assert back.count() >= 10


@pytest.mark.live
@pytest.mark.skipif(find_spec("pulsar") is None, reason="pulsar-client not installed")
def test_live_pulsar_roundtrip(spark):  # pragma: no cover - live only
    url = os.environ.get("SPARK_GRAFT_PULSAR_URL")
    if not url:
        pytest.skip("SPARK_GRAFT_PULSAR_URL not set")
    df = spark.sql("SELECT concat('v', id) AS v FROM range(10)")
    pulsar_producer_sink(df, url, "sg-live-rt", value_fn=lambda r: r["v"].encode())
    back = pulsar_reader_source(spark, url, ["sg-live-rt"])
    assert back.count() >= 10
