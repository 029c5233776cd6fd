"""At-least-once, ack-based consumption of a message-log directory —
the Pulsar shared-subscription / MQTT keep-session delivery shape.

Reference behavior: the Pulsar consumer source acknowledges messages
after handing them to the pipeline and is explicitly *not* fault-
tolerant — on restart the broker redelivers everything unacknowledged
(`PulsarConsumerBuilder.java:50-223`, SURVEY.md §2.2 S12); MQTT keeps
subscription state broker-side and redelivers QoS>=1 messages when the
session is kept (`MqttSources.java:47-52`), with QoS chosen **per
topic** at subscribe time (`mqtt/.../Subscription.java:85-127`).

Spark-first re-expression: subscription state lives *in the source
directory* as a per-subscription ack marker, not in Spark's checkpoint.
``commit(end)`` — called by Spark only after a micro-batch is durably
committed — advances the marker (the broker-side cumulative ack). A
restarted query (fresh checkpoint, same subscription) resumes from the
marker: acknowledged segments are never redelivered, in-flight ones are
— at-least-once, exactly the reference's contract. Redelivered messages
arrive in NEW epochs of the restarted query, so absorb them with a sink
that upserts on the message identity (stream, seq, key), not on the
epoch: `exactly_once.idempotent_foreach_batch` absorbs only a replay of
the same epoch, and raises when epoch ids restart behind its marker, so
each checkpoint needs its own commit_dir.

QoS per topic (stream): **QoS 1/2** topics ack on commit as above
(at-least-once; the 1-vs-2 dedup half of QoS 2 is the idempotent-sink
discipline, as in the reference where Jet replays regardless). **QoS 0**
topics ack at delivery time — the marker advances the moment the batch
is planned, so messages in flight at an unclean restart are lost, never
redelivered: at-most-once, the fire-and-forget contract.

Replaying WITH the same checkpoint is still exactly-once (Spark's WAL
takes precedence over initialOffset) — strictly stronger than the
reference here.
"""

from __future__ import annotations

import fnmatch
import json
import os

from pyspark.sql.datasource import DataSource

from hazelcast_jet_contrib_spark.streaming.message_log import (
    SCHEMA,
    MessageLogStreamReader,
)


def _ack_path(root: str, subscription: str) -> str:
    return os.path.join(root, f".sub-{subscription}.ack")


def read_ack(root: str, subscription: str) -> dict:
    try:
        with open(_ack_path(root, subscription)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


class AckedMessageLogStreamReader(MessageLogStreamReader):
    def __init__(
        self,
        root: str,
        subscription: str,
        topics: list[str] | None = None,
        default_qos: int = 1,
        topic_qos: dict[str, int] | None = None,
    ):
        """``topics`` restricts the subscription to streams matching any
        of the glob patterns (MQTT topic filters with wildcards,
        MqttSourceBuilder.java:42-180); None subscribes to all.
        ``topic_qos`` maps stream name -> QoS 0/1/2, with ``default_qos``
        for unlisted streams (Subscription.java:85-127)."""
        super().__init__(root)
        self.subscription = subscription
        self.topics = topics
        self.default_qos = default_qos
        self.topic_qos = topic_qos or {}
        # The resume position is pinned at the first planning call —
        # QoS 0 advances the ack marker at DELIVERY time (latestOffset),
        # and the engine may evaluate initialOffset after latestOffset
        # in the same run; without pinning, the fresh ack would make the
        # first batch plan start==end and deliver nothing.
        self._initial: dict | None = None

    def _qos(self, stream: str) -> int:
        return int(self.topic_qos.get(stream, self.default_qos))

    def _streams(self) -> list[str]:
        streams = super()._streams()
        if self.topics is None:
            return streams
        return [
            s for s in streams if any(fnmatch.fnmatch(s, pat) for pat in self.topics)
        ]

    def _pin_initial(self) -> dict:
        if self._initial is None:
            acked = read_ack(self.root, self.subscription)
            self._initial = {s: acked.get(s, 0) for s in self._streams()}
        return self._initial

    def initialOffset(self) -> dict:
        # resume from the subscription's cumulative ack as of connect
        # time; streams never seen by this subscription start at 0
        return dict(self._pin_initial())

    def latestOffset(self) -> dict:
        self._pin_initial()  # before the QoS 0 delivery-time ack below
        end = super().latestOffset()
        # QoS 0: fire-and-forget — the broker forgets a message the
        # moment it is handed over, so the marker advances at delivery
        # planning, not commit. In flight at an unclean restart => lost.
        qos0_end = {s: o for s, o in end.items() if self._qos(s) == 0}
        if qos0_end:
            self._write_ack(qos0_end)
        return end

    def commit(self, end: dict) -> None:
        # cumulative ack for QoS>=1 topics (QoS 0 already acked at
        # delivery; re-acking is a harmless no-op under the max())
        self._write_ack(end)

    def _write_ack(self, end: dict) -> None:
        # monotone per stream (a replayed commit of an older offset must
        # not move the marker backwards)
        acked = read_ack(self.root, self.subscription)
        for s, o in end.items():
            acked[s] = max(acked.get(s, 0), int(o))
        tmp = _ack_path(self.root, self.subscription) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(acked, f)
        os.replace(tmp, _ack_path(self.root, self.subscription))


class AckedMessageLogDataSource(DataSource):
    """``spark.readStream.format("acked_message_log")
    .option("path", root).option("subscription", name)``.

    Options: ``topics`` — comma-separated glob patterns selecting the
    subscribed streams; ``qos`` — default QoS (0/1/2) for all topics;
    ``topicQos`` — JSON object mapping stream name to QoS, overriding
    the default per topic.

    Register once per session:
        spark.dataSource.register(AckedMessageLogDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "acked_message_log"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> AckedMessageLogStreamReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("acked_message_log source requires option 'path'")
        topics = self.options.get("topics")
        # option keys may arrive case-preserved or lower-cased depending
        # on the registration path; accept both
        topic_qos = self.options.get("topicQos") or self.options.get("topicqos")
        return AckedMessageLogStreamReader(
            path,
            self.options.get("subscription", "default"),
            topics=[t.strip() for t in topics.split(",")] if topics else None,
            default_qos=int(self.options.get("qos", 1)),
            topic_qos=json.loads(topic_qos) if topic_qos else None,
        )


def register(spark) -> None:
    spark.dataSource.register(AckedMessageLogDataSource)
