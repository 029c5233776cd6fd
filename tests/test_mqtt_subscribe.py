"""Live subscribe-side MQTT source adapter (PahoSubscribeSource) —
the last adapter asymmetry from VERDICT r13 (the paho family was
publish-only): callback → bounded spool → readStream.

Tiers mirror the rest of the real-client suite (test_real_clients.py):

1. **Injected-module tests**: a fake paho module with the full
   subscribe-side callback surface proves the adapter's glue — one
   subscribe call carrying every (filter, QoS) pair
   (SourceContext.java:96-104), clean_session keep-session wiring
   (MqttSources.java:47-52), reconnect → re-subscribe
   (AbstractMqttSourceTest.java:73-104 broker-restart contract), the
   bounded blocking queue (SourceContext.java:70 ArrayBlockingQueue).
2. **Fault-schedule test**: fault_injection schedules a subscribe
   failure — the adapter drops the connection so the reconnect path
   retries, the Toxiproxy-parity analog of the reference's
   containerized broker restart.
3. **Spark tier**: the spool feeds the acked message-log reader with
   per-topic QoS derived from the subscription filters.

The live (`-m live`) leg against a real Mosquitto broker is the
docs/LIVE_TIER.md §mqtt runbook.
"""

from __future__ import annotations

import json
import os
import threading
import time
from glob import glob

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hazelcast_jet_contrib_spark.fault_injection import write_schedule
from hazelcast_jet_contrib_spark.real_clients import (
    MqttStubClient,
    MqttStubMessage,
    MqttStubModule,
    PahoSubscribeSource,
    mqtt_stream_name,
    mqtt_topic_matches,
    mqtt_topic_of_stream,
)

# ---------------------------------------------------------------------------
# fake paho with the subscribe-side surface
# ---------------------------------------------------------------------------


# The fake paho module is the SHARED in-process stub the driver-gate
# row also uses (real_clients.MqttStub*): one stand-in, one contract —
# the two can never drift apart (review r14 finding #5).
_FakeMessage = MqttStubMessage
_FakeSubClient = MqttStubClient
_FakeSubModule = MqttStubModule


SUBS = [("house/#", 2), ("sensors/+/temp", 1), ("log", 0)]


def _source(tmp_path, mod, **kw):
    return PahoSubscribeSource(
        "broker.example",
        str(tmp_path / "spool"),
        SUBS,
        client_id="sub-test",
        flush_seconds=0.01,
        mqtt_module=mod,
        **kw,
    )


# ---------------------------------------------------------------------------
# topic-filter matcher (broker-side rule the subscriptions rely on)
# ---------------------------------------------------------------------------


def test_mqtt_topic_matcher_semantics():
    assert mqtt_topic_matches("house/#", "house/kitchen/temp")
    assert mqtt_topic_matches("house/#", "house")  # '#' includes the parent
    assert mqtt_topic_matches("sensors/+/temp", "sensors/a/temp")
    assert not mqtt_topic_matches("sensors/+/temp", "sensors/a/b/temp")
    assert not mqtt_topic_matches("sensors/+/temp", "sensors/a/hum")
    assert mqtt_topic_matches("+", "anything")
    assert not mqtt_topic_matches("+", "a/b")
    # spec §4.7.2: wildcard-led filters do not match $-system topics
    assert not mqtt_topic_matches("#", "$SYS/broker/load")
    assert not mqtt_topic_matches("+/x", "$SYS/x")
    assert mqtt_topic_matches("$SYS/#", "$SYS/broker/load")
    with pytest.raises(ValueError):
        mqtt_topic_matches("a/#/b", "a/x/b")


def _ref_match(topic_filter: str, topic: str) -> bool:
    """Independent reference matcher (plain recursion over levels,
    MQTT 3.1.1 §4.7): the property test checks the production matcher
    against this on generated inputs."""
    fl, tl = topic_filter.split("/"), topic.split("/")
    if topic.startswith("$") and fl[0][:1] in ("+", "#"):
        return False

    def rec(i: int, j: int) -> bool:
        if i == len(fl):
            return j == len(tl)
        if fl[i] == "#":
            return True  # matches the parent level and any remainder
        if j == len(tl):
            return False
        if fl[i] == "+" or fl[i] == tl[j]:
            return rec(i + 1, j + 1)
        return False

    return rec(0, 0)


_LEVEL = st.text(alphabet="abc$", min_size=0, max_size=3)
_FILTER_LEVEL = st.one_of(st.just("+"), _LEVEL)


@st.composite
def _valid_filter(draw):
    levels = draw(st.lists(_FILTER_LEVEL, min_size=1, max_size=4))
    if draw(st.booleans()):
        levels.append("#")  # '#' only ever the last level
    return "/".join(levels)


@given(
    topic_filter=_valid_filter(),
    topic=st.lists(_LEVEL, min_size=1, max_size=5).map("/".join),
)
@settings(max_examples=300, deadline=None)
def test_topic_matcher_agrees_with_reference(topic_filter, topic):
    assert mqtt_topic_matches(topic_filter, topic) == _ref_match(
        topic_filter, topic
    ), (topic_filter, topic)


def test_stream_name_roundtrip():
    for t in ("house/kitchen/temp", "log", "a b/c%d", "$SYS/x"):
        assert mqtt_topic_of_stream(mqtt_stream_name(t)) == t
        assert "/" not in mqtt_stream_name(t)


# ---------------------------------------------------------------------------
# tier 1: adapter glue through the injected module
# ---------------------------------------------------------------------------


def test_subscribe_source_one_subscribe_call_all_filters_with_qos(tmp_path):
    """SourceContext.connectComplete parity: ONE subscribe call carries
    every (filter, qos) pair; keep_session connects clean_session=False;
    the reconnect backoff window reaches the client."""
    mod = _FakeSubModule()
    src = _source(tmp_path, mod, reconnect_min=0.5, reconnect_max=30.0).start()
    try:
        c = mod.clients[0]
        assert c.clean_session is False, "keep-session must connect clean_session=False"
        assert c.subscribed == [SUBS]
        assert c.reconnect_delay == (0.5, 30.0)
        assert c.looping and c.connected
        assert src.stats["connects"] == 1 and src.stats["resubscribes"] == 1
    finally:
        src.stop()
    assert not mod.clients[0].looping


def test_failed_initial_connect_does_not_leak_the_flusher(tmp_path):
    """A broker-down start() raises to the caller (the reference
    restarts the processor on a failed SourceContext connect) — and
    must reap its own flusher thread so retrying start() never
    accumulates one flusher per attempt."""

    class _RefusingModule(_FakeSubModule):
        def Client(self, callback_api_version=None, client_id="",
                   clean_session=True):
            c = super().Client(callback_api_version, client_id, clean_session)
            def refuse(host, port, keepalive):
                raise ConnectionRefusedError("broker down (injected)")
            c.connect = refuse
            return c

    src = _source(tmp_path, _RefusingModule())

    def flushers():
        name = f"spool-flusher-{src.spool_root}"
        return [t for t in threading.enumerate() if t.name == name]

    with pytest.raises(ConnectionRefusedError):
        src.start()
    assert not flushers()
    # a later retry owns a fresh flusher and works normally
    src._mqtt_module = _FakeSubModule()
    mod = src._mqtt_module
    src.start()
    try:
        assert len(flushers()) == 1
        mod.clients[0].deliver("log", b"up", 0)
    finally:
        src.stop()
    assert [r["value"] for r in _spooled(src.spool_root, "log")] == ["up"]


def test_invalid_subscription_rejected_eagerly(tmp_path):
    with pytest.raises(ValueError):
        PahoSubscribeSource("h", str(tmp_path), [("a/#/b", 1)], mqtt_module=_FakeSubModule())
    with pytest.raises(ValueError):
        PahoSubscribeSource("h", str(tmp_path), [("a", 3)], mqtt_module=_FakeSubModule())
    with pytest.raises(ValueError):
        PahoSubscribeSource("h", str(tmp_path), [], mqtt_module=_FakeSubModule())


def _spooled(spool_root, topic):
    recs = []
    for seg in sorted(glob(os.path.join(spool_root, mqtt_stream_name(topic), "*.jsonl"))):
        with open(seg) as f:
            recs += [json.loads(line) for line in f]
    return recs


def test_messages_spool_per_topic_with_full_message_surface(tmp_path):
    mod = _FakeSubModule()
    src = _source(tmp_path, mod).start()
    try:
        c = mod.clients[0]
        c.deliver("house/kitchen", b"21.5", 2)
        c.deliver("sensors/a/temp", b"ok", 1, retain=True)
        c.deliver("log", b"boot", 0)
    finally:
        src.stop()  # final drain flushes everything
    kitchen = _spooled(src.spool_root, "house/kitchen")
    assert [r["value"] for r in kitchen] == ["21.5"]
    assert kitchen[0]["key"] == "house/kitchen"
    assert kitchen[0]["properties"]["qos"] == "2"
    assert kitchen[0]["properties"]["topic"] == "house/kitchen"
    assert kitchen[0]["event_time"] is not None
    sens = _spooled(src.spool_root, "sensors/a/temp")
    assert sens[0]["properties"]["retain"] == "1"
    assert [r["value"] for r in _spooled(src.spool_root, "log")] == ["boot"]
    assert src.stats["received"] == 3 and src.stats["spooled"] == 3


def test_reader_options_derive_per_topic_qos_from_filters(tmp_path):
    """Subscription.java:85-127 end-to-end: the spooled streams inherit
    the QoS of the filter that subscribed them, and the options dict
    targets the acked reader's exact option surface."""
    mod = _FakeSubModule()
    src = _source(tmp_path, mod).start()
    try:
        c = mod.clients[0]
        c.deliver("house/kitchen", b"x", 2)
        c.deliver("sensors/a/temp", b"y", 1)
        c.deliver("log", b"z", 0)
    finally:
        src.stop()
    opts = src.reader_options(subscription="s1")
    assert opts["path"] == src.spool_root and opts["subscription"] == "s1"
    # MAX subscribed QoS for late-appearing topics: a too-high default
    # only delays acks to commit (extra redelivery, absorbed by the
    # idempotent sink); a min() default would ack a late QoS>=1 topic
    # at delivery and lose it on a crash before commit (review r14 #2)
    assert opts["qos"] == "2"
    assert json.loads(opts["topicQos"]) == {
        mqtt_stream_name("house/kitchen"): 2,
        mqtt_stream_name("sensors/a/temp"): 1,
        mqtt_stream_name("log"): 0,
    }
    assert src.qos_for_topic("house/any/depth") == 2
    with pytest.raises(ValueError):
        src.qos_for_topic("unsubscribed/topic")


def test_bounded_queue_blocks_callback_until_drained(tmp_path):
    """The reference buffers arrivals in an ArrayBlockingQueue(1024)
    whose put() BLOCKS the paho network thread when full
    (SourceContext.java:70,116) — backpressure, not unbounded memory.
    Same contract here: the capacity+1'th message blocks until the
    flusher drains."""
    mod = _FakeSubModule()
    src = _source(tmp_path, mod, queue_capacity=2)
    # no start(): drive the callback directly so no flusher competes
    c = _FakeSubClient()
    src._on_message(c, None, _FakeMessage("log", b"1", 0))
    src._on_message(c, None, _FakeMessage("log", b"2", 0))
    done = threading.Event()
    t = threading.Thread(
        target=lambda: (src._on_message(c, None, _FakeMessage("log", b"3", 0)),
                        done.set()),
        daemon=True,
    )
    t.start()
    time.sleep(0.1)
    assert not done.is_set(), "callback must block while the bounded queue is full"
    assert src.appender.flush() >= 1  # flusher drains -> the blocked put completes
    assert done.wait(timeout=5)
    while src.appender.flush():
        pass
    assert [r["value"] for r in _spooled(src.spool_root, "log")] == ["1", "2", "3"]


# ---------------------------------------------------------------------------
# tier 2: fault-schedule reconnect (the broker-restart analog)
# ---------------------------------------------------------------------------


def test_failed_subscribe_drops_connection_then_reconnect_resubscribes(tmp_path):
    """AbstractMqttSourceTest.java:73-104 (autoReconnect + broker
    restart) as a fault schedule: the first SUBACK is lost → the
    adapter must NOT sit connected-but-unsubscribed; it drops the
    connection so the reconnect backoff retries, and the reconnect
    callback re-subscribes every filter. Messages arriving after the
    recovered subscribe flow normally."""
    fd = str(tmp_path / "faults")
    write_schedule(fd, [{"method": "subscribe", "call": 1, "action": "error"}])
    mod = _FakeSubModule(fault_dir=fd)
    src = _source(tmp_path, mod).start()
    try:
        c = mod.clients[0]
        assert src.stats["subscribe_errors"] == 1
        assert c.connected is None, "failed subscribe must drop the connection"
        assert c.subscribed == []
        # paho's loop reconnects with backoff; the callback re-subscribes
        c.simulate_reconnect()
        assert src.stats["subscribe_errors"] == 1
        assert src.stats["resubscribes"] == 1
        assert c.subscribed == [SUBS]
        c.deliver("house/kitchen", b"after-recovery", 2)
    finally:
        src.stop()
    assert [r["value"] for r in _spooled(src.spool_root, "house/kitchen")] == [
        "after-recovery"
    ]
    assert src.stats["connects"] == 2


def test_keep_session_redelivery_is_visible_and_dedupable(tmp_path):
    """Keep-session at-least-once (MqttSources.java:47-52): a QoS1
    message in flight at a connection loss is REDELIVERED (dup flag
    set) after reconnect. The spool shows both deliveries — honesty of
    the at-least-once contract — and the downstream dedupe discipline
    (key + payload identity here; idempotent sink in the pipelines)
    recovers the exact message set."""
    mod = _FakeSubModule()
    src = _source(tmp_path, mod).start()
    try:
        c = mod.clients[0]
        c.deliver("sensors/a/temp", b"m1", 1)
        c.simulate_reconnect()  # broker redelivers the unacked QoS1 msg
        c.deliver("sensors/a/temp", b"m1", 1, dup=True)
        c.deliver("sensors/a/temp", b"m2", 1)
    finally:
        src.stop()
    recs = _spooled(src.spool_root, "sensors/a/temp")
    assert [r["value"] for r in recs] == ["m1", "m1", "m2"]
    assert [r["properties"]["dup"] for r in recs] == ["0", "1", "0"]
    # the downstream dedupe-by-identity view the idempotent sink applies
    assert sorted({(r["key"], r["value"]) for r in recs}) == [
        ("sensors/a/temp", "m1"),
        ("sensors/a/temp", "m2"),
    ]
    assert src.stats["resubscribes"] == 2


# ---------------------------------------------------------------------------
# tier 3: Spark reads the spool through the acked reader
# ---------------------------------------------------------------------------


def test_spool_feeds_acked_reader_with_derived_qos(spark, tmp_path):
    from hazelcast_jet_contrib_spark.streaming import ack_log

    mod = _FakeSubModule()
    src = _source(tmp_path, mod).start()
    try:
        c = mod.clients[0]
        c.deliver("house/kitchen", b"21.5", 2)
        c.deliver("log", b"boot", 0)
    finally:
        src.stop()

    ack_log.register(spark)
    stream = spark.readStream.format("acked_message_log")
    for k, v in src.reader_options(subscription="sub-spark").items():
        stream = stream.option(k, v)
    q = (
        stream.load()
        .writeStream.format("memory")
        .queryName("mqtt_sub_run")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    rows = spark.sql(
        "SELECT stream, key, value, properties['qos'] AS qos FROM mqtt_sub_run"
    ).collect()
    got = {(r["stream"], r["key"], r["value"], r["qos"]) for r in rows}
    assert got == {
        (mqtt_stream_name("house/kitchen"), "house/kitchen", "21.5", "2"),
        ("log", "log", "boot", "0"),
    }
    # QoS 0 stream acked at delivery; QoS 2 stream awaits commit
    assert ack_log.read_ack(src.spool_root, "sub-spark") == {"log": 1}


# ---------------------------------------------------------------------------
# tier 3 (live, `-m live`): real Mosquitto round-trip — docs/LIVE_TIER.md §3
# ---------------------------------------------------------------------------

from importlib.util import find_spec  # noqa: E402

# Driver-tier split (VERDICT r17 item 3): this module is kill/restart/
# soak/protocol ROBUSTNESS coverage, not result correctness — it runs in
# the full tier (`pytest -m "slow or not slow"`, exercised and committed
# every round) but is excluded from the default driver-facing tier so the
# driver's verify window can complete. Oracle comparisons, plan audits,
# and kernel-equality pins all stay in the default tier.
pytestmark = pytest.mark.slow


requires_live_mqtt = pytest.mark.skipif(
    find_spec("paho") is None or "SPARK_GRAFT_MQTT_HOST" not in os.environ,
    reason="needs paho-mqtt installed and SPARK_GRAFT_MQTT_HOST set",
)


@pytest.mark.live
@requires_live_mqtt
def test_live_mqtt_subscribe_roundtrip(tmp_path):  # pragma: no cover - live only
    """Publish through the real publish adapter, receive through the
    real subscribe adapter — wildcard filter + per-topic QoS against an
    actual broker (the MqttSourceTest.java test() shape)."""
    from hazelcast_jet_contrib_spark.real_clients import paho_publish_fn

    host = os.environ["SPARK_GRAFT_MQTT_HOST"]
    port = int(os.environ.get("SPARK_GRAFT_MQTT_PORT", "1883"))
    src = PahoSubscribeSource(
        host,
        str(tmp_path / "spool"),
        [("sg/live/sub/#", 1)],
        port=port,
        client_id="sg-live-sub",
        flush_seconds=0.05,
    ).start()
    try:
        time.sleep(1.0)  # SUBACK settles
        pub = paho_publish_fn(host, port)
        pub("unused", "sg/live/sub/a", [{"value": f"m{i}", "properties": {"qos": "1"}} for i in range(5)])
        pub.close()
        deadline = time.time() + 15
        while src.stats["received"] < 5 and time.time() < deadline:
            time.sleep(0.2)
    finally:
        src.stop()
    got = [r["value"] for r in _spooled(src.spool_root, "sg/live/sub/a")]
    assert sorted(got) == [f"m{i}" for i in range(5)]


# ---------------------------------------------------------------------------
# review r14 fixes: shared-subscription matching, spool-failure retry,
# loud stop on unspoolable leftovers
# ---------------------------------------------------------------------------


def test_shared_subscription_filters_match_concrete_topics(tmp_path):
    """$share/<group>/<filter> subscriptions (the fan-out shape the
    adapter docstring recommends) deliver on the CONCRETE topic — QoS
    classification must strip the share prefix before matching
    (review r14 #3)."""
    src = PahoSubscribeSource(
        "h", str(tmp_path / "spool"),
        [("$share/g1/house/#", 2), ("$share/g1/log", 0)],
        mqtt_module=_FakeSubModule(),
    )
    assert src.qos_for_topic("house/kitchen/temp") == 2
    assert src.qos_for_topic("log") == 0
    with pytest.raises(ValueError):
        src.qos_for_topic("other")


def test_spool_write_failure_holds_batch_and_retries(tmp_path, monkeypatch):
    """A spool-write failure must not kill the flusher or drop the
    dequeued batch (the broker has already PUBACKed QoS>=1 — no
    redelivery is coming): the batch is held, the error counted, and
    the next drain retries it successfully (review r14 #1)."""
    import hazelcast_jet_contrib_spark.streaming.message_log as ml

    mod = _FakeSubModule()
    src = _source(tmp_path, mod)
    c = _FakeSubClient()
    src._on_message(c, None, _FakeMessage("log", b"precious", 1))

    real_append = ml.append_segment
    calls = {"n": 0}

    def flaky_append(root, stream, records, seq=None, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError(28, "No space left on device (injected)")
        return real_append(root, stream, records, seq)

    monkeypatch.setattr(ml, "append_segment", flaky_append)
    with pytest.raises(OSError):
        src.appender.flush()  # write failed, batch held
    assert src.stats["spool_errors"] == 1
    assert src.appender.metrics()["buffered"] == 1 and not _spooled(src.spool_root, "log")
    assert src.appender.flush() == 1  # retry drains the held batch
    assert src.appender.metrics()["buffered"] == 0
    assert [r["value"] for r in _spooled(src.spool_root, "log")] == ["precious"]


def test_stop_raises_on_unspoolable_leftovers(tmp_path, monkeypatch):
    """If the spool stays unwritable through the final-drain retries,
    stop() must raise — received-but-unspooled messages are data loss
    the caller must hear about, never a silent drop (review r14 #1)."""
    import hazelcast_jet_contrib_spark.streaming.message_log as ml

    mod = _FakeSubModule()
    src = _source(tmp_path, mod).start()
    monkeypatch.setattr(
        ml, "append_segment",
        lambda *a, **k: (_ for _ in ()).throw(OSError(28, "disk full (injected)")),
    )
    mod.clients[0].deliver("log", b"doomed", 1)
    with pytest.raises(RuntimeError, match="unspooled"):
        src.stop()
    assert src.stats["spool_errors"] >= 3  # bounded final-drain retries


def test_subscribe_return_code_failure_treated_like_exception(tmp_path):
    """ADVICE r14 #2: real paho reports most subscribe failures via the
    returned (rc, mid) tuple WITHOUT raising (e.g. MQTT_ERR_NO_CONN).
    A non-zero rc must take the same path as a raised subscribe: count
    the error, drop the connection so the reconnect backoff retries,
    and re-subscribe successfully on reconnect — never sit
    connected-but-unsubscribed."""
    mod = _FakeSubModule(subscribe_rcs=[4, 0])  # MQTT_ERR_NO_CONN, then ok
    src = _source(tmp_path, mod).start()
    try:
        c = mod.clients[0]
        assert src.stats["subscribe_errors"] == 1
        assert c.connected is None, "rc failure must drop the connection"
        assert c.subscribed == [], "a failed rc records no subscription"
        c.simulate_reconnect()
        assert src.stats["resubscribes"] == 1
        assert c.subscribed == [SUBS]
        c.deliver("log", b"after-rc-recovery", 0)
    finally:
        src.stop()
    assert [r["value"] for r in _spooled(src.spool_root, "log")] == [
        "after-rc-recovery"
    ]


def test_partial_spool_failure_retry_is_duplicate_free(tmp_path, monkeypatch):
    """ADVICE r14 #3: when a multi-topic batch fails PARTWAY through the
    per-topic appends, the retry must re-append ONLY the topics that
    did not write — already-written topics are dropped from the held
    batch, so the spool ends duplicate-free."""
    import hazelcast_jet_contrib_spark.streaming.message_log as ml

    mod = _FakeSubModule()
    src = _source(tmp_path, mod)
    c = _FakeSubClient()
    src._on_message(c, None, _FakeMessage("house/kitchen", b"k1", 1))
    src._on_message(c, None, _FakeMessage("house/hall", b"h1", 1))
    src._on_message(c, None, _FakeMessage("log", b"l1", 0))

    real_append = ml.append_segment
    state = {"failed": False}

    def fail_second_topic(root, stream, records, seq=None, **kw):
        if not state["failed"] and len(glob(os.path.join(root, "*"))) == 1:
            state["failed"] = True  # exactly one topic dir written so far
            raise OSError(28, "No space left on device (injected)")
        return real_append(root, stream, records, seq)

    monkeypatch.setattr(ml, "append_segment", fail_second_topic)
    with pytest.raises(OSError):
        src.appender.flush()  # one topic lands, the second fails
    m = src.appender.metrics()
    assert m["records_written"] == 1 and src.stats["spool_errors"] == 1
    assert m["buffered"] == 2, "written topic must leave the retry batch"
    assert src.appender.flush() == 2  # retry writes ONLY the held topics
    assert src.appender.metrics()["buffered"] == 0
    spooled = [
        r["value"]
        for t in ("house/kitchen", "house/hall", "log")
        for r in _spooled(src.spool_root, t)
    ]
    assert sorted(spooled) == ["h1", "k1", "l1"], "no duplicates after retry"
    assert src.stats["spooled"] == 3


def test_spool_exact_under_injected_scheduling_jitter(tmp_path, monkeypatch):
    """The MQTT half of the round-15 driver-gate failure class
    (VERDICT r15 #1): every spool append delayed by a seeded
    pseudo-random 0-8 ms while a delivery thread races the flusher
    across 600 messages on 5 topics and stop() lands mid-drain — the
    callback → bounded-queue → flusher → per-topic spool path must
    land every message exactly once (the per-key audit the driver row
    now runs inline)."""
    import json
    import random
    import threading
    import time as _time

    import hazelcast_jet_contrib_spark.streaming.message_log as ml
    from hazelcast_jet_contrib_spark import real_clients

    real_append = ml.append_segment
    rng = random.Random(0xBEEF)
    delay_lock = threading.Lock()

    def slow_append(root, stream, records, seq=None, **kw):
        with delay_lock:
            d = rng.uniform(0, 0.008)
        _time.sleep(d)
        return real_append(root, stream, records, seq)

    # the appender resolves append_segment through message_log at call
    # time, so patch the module attribute
    monkeypatch.setattr(ml, "append_segment", slow_append)
    mod = _FakeSubModule()
    src = _source(tmp_path, mod, flush_records=16)
    src.start()
    n = 600
    try:
        c = mod.clients[0]
        for i in range(n):
            c.deliver(f"house/{i % 5}/temp", json.dumps({"i": i}), 1)
    finally:
        src.stop()  # final drain must flush every queued message
    spool = tmp_path / "spool"
    got = sorted(
        json.loads(json.loads(line)["value"])["i"]
        for d in spool.iterdir() if d.is_dir()
        for seg in d.glob("*.jsonl")
        for line in open(seg)
    )
    missing = sorted(set(range(n)) - set(got))
    dup = sorted(i for i in set(got) if got.count(i) > 1)
    assert got == list(range(n)), (
        f"missing={missing[:20]} duplicated={dup[:20]} total={len(got)}"
    )
