"""The buffered-writer loop every sink runs on (``sinks/builder.py``),
driven without a JVM: a stub frame whose ``foreachPartition(fn)`` calls
``fn(iter(rows))`` in this process, where ``TaskContext.get()`` is None.

Pins the builder's batch contract — flush boundaries, re-send of the
identical batch after a failed flush, clear after success, destroy on a
flush that fails for good — and the sinks that depend on it: the
ordered ``doc_sink`` abort under retry, the ``mqtt_sink`` QoS 0 single
attempt, the row -> point mapping ``point_sink`` and ``influx_sink``
share, on a non-UTC host, the file stores' refusal of a former
layout, and a later sink call's flushes reading after an earlier one's.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import types

import pytest
from pyspark.sql import Row
from pyspark.sql.types import TimestampType

from hazelcast_jet_contrib_spark.real_clients import influx_sink
from hazelcast_jet_contrib_spark.sinks.builder import RetryStrategy, SinkBuilder
from hazelcast_jet_contrib_spark.sinks.connectors import (
    doc_sink,
    kv_hash_sink,
    mqtt_sink,
    point_sink,
    read_kv_hash,
    read_points,
    read_sorted_set,
)


class _Frame:
    """One-partition stand-in for a DataFrame."""

    def __init__(self, rows):
        self.rows = list(rows)

    def foreachPartition(self, fn):
        fn(iter(self.rows))

    def repartition(self, *cols):
        return self


def _recording_sink(batch_size, fail_first=0, retry=RetryStrategy.never()):
    """A sink logging every flush attempt (a copy of its items) and the
    create/destroy calls; its first ``fail_first`` flushes raise."""
    log = {"created": [], "attempts": [], "pushed": [], "destroyed": 0}

    def create(writer_id):
        log["created"].append(writer_id)
        return log

    def flush(ctx, items):
        ctx["attempts"].append(list(items))
        if len(ctx["attempts"]) <= fail_first:
            raise ConnectionError("store down")
        ctx["pushed"].append(list(items))

    def destroy(ctx):
        ctx["destroyed"] += 1

    sink = (
        SinkBuilder("rec")
        .create_fn(create)
        .receive_fn(lambda row: row * 10)
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .retry(retry)
    )
    return sink, log


def test_flush_boundaries_at_batch_size_plus_tail():
    sink, log = _recording_sink(batch_size=3)
    sink.write(_Frame(range(7)))
    assert log["created"] == ["rec-0"]
    assert log["pushed"] == [[0, 10, 20], [30, 40, 50], [60]]
    assert log["destroyed"] == 1
    # an empty partition never flushes
    sink, log = _recording_sink(batch_size=3)
    sink.foreach_batch()(_Frame([]), 0)
    assert log["attempts"] == [] and log["destroyed"] == 1


def test_failed_flush_resends_identical_batch_and_clears_after_success():
    sink, log = _recording_sink(
        batch_size=2, fail_first=2, retry=RetryStrategy.constant(3, 0)
    )
    sink.write(_Frame(range(5)))
    assert log["attempts"] == [[0, 10], [0, 10], [0, 10], [20, 30], [40]]
    assert log["pushed"] == [[0, 10], [20, 30], [40]]


def test_destroy_runs_when_the_flush_fails_for_good():
    sink, log = _recording_sink(
        batch_size=2, fail_first=99, retry=RetryStrategy.constant(2, 0)
    )
    with pytest.raises(ConnectionError, match="store down"):
        sink.write(_Frame(range(5)))
    assert log["attempts"] == [[0, 10], [0, 10]]
    assert log["pushed"] == []
    assert log["destroyed"] == 1


def test_receive_fn_and_flush_fn_are_required():
    with pytest.raises(ValueError, match="receive_fn and flush_fn are required"):
        SinkBuilder("x").receive_fn(lambda row: row).write(_Frame([1]))


def test_doc_sink_ordered_abort_is_not_swallowed_by_retry(tmp_path):
    """The ordered insertMany abort is raised on every attempt of the
    same batch, so the retry strategy surfaces it instead of "succeeding"
    on an emptied buffer; nothing is written."""
    rows = [Row(doc_id=1, status="ok"), Row(doc_id=2, status="BAD"), Row(doc_id=3, status="ok")]
    path = str(tmp_path / "docs")
    with pytest.raises(ValueError, match="aborted on invalid doc"):
        doc_sink(
            _Frame(rows),
            path,
            ordered=True,
            validate_fn=lambda d: d["status"] == "ok",
            retry=RetryStrategy.constant(3, 0),
        )
    assert glob.glob(os.path.join(path, "docs-*.jsonl")) == []


def test_store_of_the_former_json_layout_is_refused(tmp_path):
    """KV hash and sorted-set flush files were one JSON document
    (``hmset-*.json``); reading such a directory raises instead of
    returning an empty store."""
    (tmp_path / "hmset-kv-hash-0-000000-1.json").write_text('{"k1": "v1"}')
    (tmp_path / "zadd-sorted-set-0-000000-1.json").write_text('[[1.0, "a"]]')
    with pytest.raises(ValueError, match="former layout"):
        read_kv_hash(str(tmp_path))
    with pytest.raises(ValueError, match="former layout"):
        read_sorted_set(str(tmp_path))


def test_second_kv_hash_sink_run_wins_over_the_first(tmp_path):
    """A second sink call into the same store restarts its flush
    counter; its flushes must still read after every flush of the first
    call, so its value for a key wins. Flush files without a run number
    (a former layout) are refused, not read out of order."""
    path = str(tmp_path / "kv")
    first = [Row(k="a", v="1"), Row(k="k", v="old")]
    kv_hash_sink(_Frame(first), path, "k", "v", batch_size=1)
    kv_hash_sink(_Frame([Row(k="k", v="new")]), path, "k", "v", batch_size=1)
    assert read_kv_hash(path) == {"a": "1", "k": "new"}

    (tmp_path / "kv" / "hmset-kv-hash-0-000000-1.jsonl").write_text('["k", "v0"]\n')
    with pytest.raises(ValueError, match="former layout"):
        read_kv_hash(path)


def test_mqtt_qos0_is_published_once_and_qos1_retried():
    calls = []

    def publish(root, topic, recs):
        qos = recs[0]["properties"]["qos"]
        calls.append((qos, [r["value"] for r in recs]))
        if calls.count((qos, [r["value"] for r in recs])) == 1:
            raise ConnectionError("broker down")

    rows = [Row(v="a", q=0), Row(v="b", q=1), Row(v="c", q=0)]
    mqtt_sink(
        _Frame(rows), "unused", "t", lambda r: r["v"], qos_fn=lambda r: r["q"],
        publish_fn=publish, retry=RetryStrategy.constant(3, 0),
    )
    assert calls == [(0, ["a", "c"]), (1, ["b"]), (1, ["b"])]


class _FakeInflux(types.ModuleType):
    """``influxdb_client`` stand-in recording each written point."""

    SYNCHRONOUS = "SYNCHRONOUS"

    class WritePrecision:
        NS, US, MS, S = "ns", "us", "ms", "s"

    class Point:
        def __init__(self, measurement):
            self.d = {"measurement": measurement, "tags": {}, "fields": {}}

        def tag(self, k, v):
            self.d["tags"][k] = v
            return self

        def field(self, k, v):
            self.d["fields"][k] = v
            return self

        def time(self, t, precision):
            self.d["time"], self.d["precision"] = t, precision
            return self

    def __init__(self):
        super().__init__("influxdb_client")
        written = self.written = []

        class _WriteApi:
            def write(self, bucket, org, record):
                written.extend(p.d for p in record)

        class InfluxDBClient:
            def __init__(self, url, token, org):
                pass

            def write_api(self, write_options=None):
                return _WriteApi()

            def close(self):
                pass

        self.InfluxDBClient = InfluxDBClient


@pytest.fixture
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_point_and_influx_sinks_write_the_utc_instant_on_a_non_utc_host(
    new_york_tz, monkeypatch, tmp_path
):
    """timestamp'2024-01-02 03:04:05' reaches a foreachPartition row as
    ``TimestampType.fromInternal(us)``: naive, process-local. Both sinks
    must write its UTC epoch, 1704164645000 ms, under TZ=America/New_York
    (reading the naive value as UTC would write it 5 h early)."""
    us = 1704164645 * 1_000_000
    rows = [Row(ts=TimestampType().fromInternal(us), host="h1", usage=float(i)) for i in range(3)]

    store = str(tmp_path / "points")
    point_sink(_Frame(rows), store, "cpu", "ts", ["host"], ["usage"], precision="ms")
    fake = _FakeInflux()
    monkeypatch.setitem(sys.modules, "influxdb_client", fake)
    influx_sink(
        _Frame(rows), "http://unused", "tk", "o", "b", "cpu", "ts", ["host"], ["usage"],
        precision="ms",
    )

    expect = [
        {"measurement": "cpu", "time": 1704164645000, "precision": "ms",
         "tags": {"host": "h1"}, "fields": {"usage": float(i)}}
        for i in range(3)
    ]
    assert read_points(store) == expect
    assert fake.written == expect
    # one flush file per batch, written whole
    files = glob.glob(os.path.join(store, "*"))
    assert len(files) == 1 and files[0].endswith(".jsonl")
    with open(files[0]) as f:
        assert [json.loads(line)["time"] for line in f] == [1704164645000] * 3
