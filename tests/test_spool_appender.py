"""``message_log.SpoolAppender``, the one write path of every push
source's spool: a failed write never loses or strands an accepted
record, offsets fold only after the write, and ``metrics()`` is the
source of the spool counters. JVM-free and Spark-free."""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from types import SimpleNamespace

import pytest

from hazelcast_jet_contrib_spark.sources.firehose import FirehoseClient
from hazelcast_jet_contrib_spark.sources.http_listener import HttpListenerSource
from hazelcast_jet_contrib_spark.sources.jvm_connector import (
    JvmConnectorHost,
    JvmConnectorSpooler,
)
from hazelcast_jet_contrib_spark.streaming import message_log as ml


def _values(stream_dir) -> list:
    return [
        json.loads(line)["value"]
        for seg in sorted(stream_dir.glob("*.jsonl"))
        for line in seg.read_text().splitlines()
    ]


def _fail_first(monkeypatch, n: int = 1) -> None:
    """Make the next ``n`` appends raise (a full disk)."""
    real = ml.append_segment
    left = {"n": n}

    def flaky(root, stream, records, seq=None, **kw):
        if left["n"]:
            left["n"] -= 1
            raise OSError(28, "No space left on device (injected)")
        return real(root, stream, records, seq, **kw)

    monkeypatch.setattr(ml, "append_segment", flaky)


def test_firehose_failed_inline_flush_loses_no_accepted_payload(tmp_path, monkeypatch):
    """A full client flushes inline; when that flush fails, the push
    raises (its payload is not accepted) and every payload already
    accepted stays buffered: after a retried push and close(), each of
    the 11 payloads lands exactly once, in order."""
    client = FirehoseClient(str(tmp_path), "t", capacity=10, drain_max=4)
    for i in range(10):
        client.push(str(i))
    _fail_first(monkeypatch)
    with pytest.raises(OSError):
        client.push("10")
    client.push("10")  # the producer retries the refused push
    client.close()
    assert _values(tmp_path / "t") == [str(i) for i in range(11)]
    assert client.pushed == 11


class _JMap(dict):
    """A java.util.Map as py4j shows it: entries through entrySet()."""

    def entrySet(self):
        return [SimpleNamespace(getKey=lambda k=k: k, getValue=lambda v=v: v)
                for k, v in self.items()]


class _FakeTask:
    """A connector task polling ``rows`` in batches of 2, then empty."""

    def __init__(self, rows: list[str]):
        self.rows = list(rows)
        self.offset = 0

    def poll(self):
        batch = []
        for value in self.rows[self.offset:self.offset + 2]:
            self.offset += 1
            batch.append(SimpleNamespace(
                topic=lambda: "t", key=lambda: None, value=lambda v=value: v,
                sourcePartition=lambda: _JMap(file="f"),
                sourceOffset=lambda o=self.offset: _JMap(line=o),
            ))
        return SimpleNamespace(size=lambda: len(batch), get=batch.__getitem__)


def test_failed_spool_to_leaves_offsets_unchanged(tmp_path):
    """``spool_to`` folds the offset snapshot only after the append: a
    spool that cannot be written raises and leaves ``host.offsets`` as
    it was, so a restart re-polls the batch."""
    host = JvmConnectorHost(None, ["unused.jar"], "C", {})
    host._task = _FakeTask(["a", "b", "c"])
    root = tmp_path / "spool"
    root.write_text("not a directory")
    with pytest.raises(OSError):
        host.spool_to(str(root))
    assert host.offsets == {}
    root.unlink()
    host._task = _FakeTask(["a", "b", "c"])
    assert host.spool_to(str(root)) == 3
    assert host.offsets == {json.dumps({"file": "f"}): {"line": 3}}
    assert _values(root / "t") == ["a", "b", "c"]


def test_spooler_folds_no_offset_past_a_failed_write(tmp_path, monkeypatch):
    """A batch whose write failed is written ahead of the next batch,
    and the snapshot folds in poll order: a later batch never moves the
    offset past records that are not yet spooled."""
    host = JvmConnectorHost(None, ["unused.jar"], "C", {})
    host._task = _FakeTask(["a", "b", "c", "d"])
    appender = JvmConnectorSpooler(host, str(tmp_path)).appender
    folds = []
    appender.after_durable = lambda recs: (
        folds.append([r["value"] for r in recs]), host.fold_offsets_of(recs))
    for r in host.poll(fold_offsets=False):
        appender.put(r)
    _fail_first(monkeypatch)
    with pytest.raises(OSError):
        appender.flush()
    for r in host.poll(fold_offsets=False):
        appender.put(r)
    assert host.offsets == {} and appender.metrics()["buffered"] == 4
    assert appender.flush() == 4  # the held batch first, then the new one
    assert folds == [["a", "b"], ["c", "d"]]
    assert host.offsets == {json.dumps({"file": "f"}): {"line": 4}}
    assert _values(tmp_path / "t") == ["a", "b", "c", "d"]


def _post(url: str, body: str) -> int:
    req = urllib.request.Request(url, data=body.encode(), method="POST")
    with urllib.request.urlopen(req, timeout=10) as r:
        return r.status


def test_buffered_listener_flusher_survives_a_failed_write(tmp_path, monkeypatch):
    """With ``durable_ack=False`` the flusher backs off after a failed
    write and retries: bodies acknowledged before and after the failure
    land while the listener runs, not only at stop()."""
    spool = tmp_path / "spool"
    src = HttpListenerSource(
        str(spool), durable_ack=False, flush_interval=0.1
    ).start()
    try:
        _fail_first(monkeypatch)
        assert _post(src.address, '{"n": 1}') == 200
        time.sleep(0.3)  # the first flush fails in this window
        assert _post(src.address, '{"n": 2}') == 200
        deadline = time.time() + 5
        while len(_values(spool / "http")) < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert _values(spool / "http") == ['{"n": 1}', '{"n": 2}']
        m = src.appender.metrics()
        assert m["failed_writes"] == 1 and m["retries"] >= 1 and m["buffered"] == 0
    finally:
        src.stop()


def test_listener_metrics_match_the_benchmark_spool_count(tmp_path, monkeypatch):
    """``metrics()`` records per segment equals what the benchmark reads
    back from the spool directory as ``http_listener.msgs_per_segment``."""
    from perfbench.run import layer_metrics
    from perfbench.trace import Tracer

    real = ml.append_segment

    def slow(root, stream, records, seq=None, **kw):
        time.sleep(0.005)  # let concurrent posts share a segment
        return real(root, stream, records, seq, **kw)

    monkeypatch.setattr(ml, "append_segment", slow)
    spool = tmp_path / "spool"
    src = HttpListenerSource(str(spool), require_json=True).start()
    ids = iter(range(120))
    lock = threading.Lock()

    def producer():
        while True:
            with lock:
                i = next(ids, None)
            if i is None:
                return
            assert _post(src.address, json.dumps({"i": i})) == 200

    try:
        ts = [threading.Thread(target=producer) for _ in range(6)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        src.stop()
    m = src.appender.metrics()
    assert m["records_in"] == m["records_written"] == 120
    assert m["failed_writes"] == 0 and m["buffered"] == 0
    bench = layer_metrics(Tracer(), SimpleNamespace(res={"spool": str(spool)}), None, 0, 0.0)
    assert bench["http_listener.segments"][0] == m["segments"]
    assert bench["http_listener.msgs_per_segment"][0] == m["records_written"] / m["segments"]


def test_mixed_put_and_append_exact_under_thread_stress(tmp_path, monkeypatch):
    """Eight threads put or append records to three streams through one
    bounded appender with a running flusher, while every 7th write
    fails and threads switch every 10 µs: every put record lands exactly
    once, an append that returned landed exactly once, an append that
    raised landed at most once, and ``metrics()`` matches the spool."""
    import sys
    from collections import Counter

    real = ml.append_segment
    calls = {"n": 0}
    lock = threading.Lock()

    def flaky(root, stream, records, seq=None, **kw):
        with lock:
            calls["n"] += 1
            fail = calls["n"] % 7 == 0
        if fail:
            raise OSError(28, "No space left on device (injected)")
        return real(root, stream, records, seq, **kw)

    monkeypatch.setattr(ml, "append_segment", flaky)
    app = ml.SpoolAppender(
        str(tmp_path), lambda r: r["s"], capacity=16, segment_records=8,
        flush_interval=0.01,
    ).start()
    acked, refused = [], []

    def worker(w):
        for i in range(40):
            rec = {"s": f"s{i % 3}", "value": f"{w}-{i}"}
            if w % 2:
                app.put(rec)
                continue
            try:
                app.append([rec])
                acked.append(rec["value"])
            except OSError:
                refused.append(rec["value"])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
            assert not t.is_alive()
        app.close()
    finally:
        sys.setswitchinterval(old)
    got = Counter(v for s in ("s0", "s1", "s2") for v in _values(tmp_path / s))
    put = {f"{w}-{i}" for w in range(1, 8, 2) for i in range(40)}
    assert all(got[v] == 1 for v in put | set(acked))
    assert all(got[v] <= 1 for v in refused)
    m = app.metrics()
    assert m["records_in"] == 320 and m["buffered"] == 0
    assert m["records_written"] == sum(got.values())
    assert m["segments"] == sum(len(list((tmp_path / s).glob("*.jsonl")))
                                for s in ("s0", "s1", "s2"))
    assert m["failed_writes"] >= 1
