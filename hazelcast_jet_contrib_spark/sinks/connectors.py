"""Concrete sink instantiations of the buffered/flushing/retrying
SinkBuilder framework — one per reference sink family, each writing to a
file-backed store the test environment can host (swap the client lambdas
for a real redis/mongo/pulsar client without touching the plan shape).

| Here | Reference | Contract |
|---|---|---|
| kv_hash_sink | RedisSinks.hash (RedisSinks.java:64-151) | accumulate a map, flush as one bulk upsert, last-write-wins per key |
| sorted_set_sink | RedisSinks.sortedSet (RedisSinks.java:165-254) | (score, member) adds; member's score overwritten on re-add |
| stream_sink | RedisSinks.stream (RedisSinks.java:269-349) | append-only XADD of body maps, composable with the message_log source |
| doc_sink | MongoDBSinks (MongoDBSinkBuilder.java:169-183) | buffered insertMany(ordered) |
| producer_sink | PulsarSinks (PulsarSinkBuilder.java:100-131) | per-record key/properties/event-time extractors |

Scale notes: every sink is a per-partition buffered writer (no driver
materialization). `kv_hash_sink` repartitions by key first so each
writer owns a disjoint key range — distributed last-write-wins without
cross-writer coordination, the Spark analog of Redis hash-slot routing.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from glob import glob
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.sinks.builder import RetryStrategy, SinkBuilder
from hazelcast_jet_contrib_spark.streaming.message_log import append_segment


def _write_json(path_prefix: str, payload: Any) -> None:
    """Atomic, uniquely-named flush file (writer id + monotonic counter
    ride the prefix; flushes never overwrite each other)."""
    path = f"{path_prefix}-{time.monotonic_ns()}.json"
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# K2 — KV hash (HMSET shape)
# ---------------------------------------------------------------------------


def kv_hash_sink(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    batch_size: int = 1024,
    retry: RetryStrategy | None = None,
) -> None:
    """Bulk KV upsert: rows accumulate into a per-writer map and flush as
    one HMSET-style document. Repartitioning by key gives each writer a
    disjoint key set, so last-write-wins holds globally; within a writer
    the map naturally keeps the latest value per key
    (RedisSinks.java:145-150 receive-into-HashMap contract)."""
    os.makedirs(path, exist_ok=True)

    def create(writer_id: str) -> dict:
        return {"id": writer_id, "buf": {}, "n": 0}

    def receive(ctx: dict, row) -> None:
        ctx["buf"][str(row[key_col])] = str(row[value_col])

    def flush(ctx: dict) -> None:
        if ctx["buf"]:
            _write_json(os.path.join(path, f"hmset-{ctx['id']}-{ctx['n']:06d}"), ctx["buf"])
            ctx["n"] += 1
            ctx["buf"] = {}

    sink = (
        SinkBuilder("kv-hash")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
    )
    if retry is not None:
        sink = sink.retry(retry)
    sink.write(df.repartition(F.col(key_col)))


def read_kv_hash(path: str) -> dict[str, str]:
    """Store-side read-back: merge flush files in write order (file names
    embed a monotonic flush counter per writer; keys are disjoint across
    writers, so order only matters within one)."""
    out: dict[str, str] = {}
    for p in sorted(glob(os.path.join(path, "hmset-*.json"))):
        with open(p) as f:
            out.update(json.load(f))
    return out


# ---------------------------------------------------------------------------
# K3 — sorted set (ZADD shape)
# ---------------------------------------------------------------------------


def sorted_set_sink(
    df: DataFrame,
    path: str,
    score_col: str,
    member_col: str,
    batch_size: int = 1024,
) -> None:
    """ZADD per row, flushed in batches; a member re-added with a new
    score keeps the latest (Redis semantics)."""
    os.makedirs(path, exist_ok=True)

    def create(writer_id: str) -> dict:
        return {"id": writer_id, "buf": [], "n": 0}

    def receive(ctx: dict, row) -> None:
        ctx["buf"].append([float(row[score_col]), str(row[member_col])])

    def flush(ctx: dict) -> None:
        if ctx["buf"]:
            _write_json(os.path.join(path, f"zadd-{ctx['id']}-{ctx['n']:06d}"), ctx["buf"])
            ctx["n"] += 1
            ctx["buf"] = []

    (
        SinkBuilder("sorted-set")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
        .write(df.repartition(F.col(member_col)))
    )


def read_sorted_set(path: str) -> list[tuple[float, str]]:
    """Members ordered by (score, member); last-written score per member
    wins."""
    latest: dict[str, float] = {}
    for p in sorted(glob(os.path.join(path, "zadd-*.json"))):
        with open(p) as f:
            for score, member in json.load(f):
                latest[member] = score
    return sorted((s, m) for m, s in latest.items())


# ---------------------------------------------------------------------------
# K4 — stream append (XADD shape)
# ---------------------------------------------------------------------------


def stream_sink(
    df: DataFrame,
    root: str,
    stream: str,
    key_col: str | None = None,
    value_col: str = "value",
    batch_size: int = 1024,
) -> None:
    """XADD of row bodies into a message-log stream — the output is
    directly readable by the `message_log` streaming source, closing the
    same loop the reference closes between RedisSinks.stream and
    RedisSources.stream."""

    def create(writer_id: str) -> dict:
        return {"buf": []}

    def receive(ctx: dict, row) -> None:
        ctx["buf"].append(
            {
                "key": None if key_col is None else str(row[key_col]),
                "value": str(row[value_col]),
            }
        )

    def flush(ctx: dict) -> None:
        if ctx["buf"]:
            append_segment(root, stream, ctx["buf"])
            ctx["buf"] = []

    (
        SinkBuilder("stream-xadd")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
        .write(df)
    )


# ---------------------------------------------------------------------------
# K5 — document insertMany
# ---------------------------------------------------------------------------


def doc_sink(
    df: DataFrame,
    path: str,
    ordered: bool = True,
    validate_fn: Callable[[dict], bool] | None = None,
    batch_size: int = 1024,
    retry: RetryStrategy | None = None,
) -> None:
    """Buffered insertMany of row-documents as jsonl batches.
    `ordered=True` aborts the batch at the first invalid document,
    `ordered=False` skips it and continues — the InsertManyOptions
    contract (MongoDBSinkBuilder.java:169-183); `validate_fn=None` is
    bypassValidation."""
    os.makedirs(path, exist_ok=True)

    def create(writer_id: str) -> dict:
        return {"id": writer_id, "buf": [], "n": 0}

    def receive(ctx: dict, row) -> None:
        ctx["buf"].append(row.asDict(recursive=True))

    def flush(ctx: dict) -> None:
        if not ctx["buf"]:
            return
        docs = []
        for doc in ctx["buf"]:
            if validate_fn is not None and not validate_fn(doc):
                if ordered:
                    ctx["buf"] = []
                    raise ValueError(f"insertMany(ordered) aborted on invalid doc: {doc}")
                continue
            docs.append(doc)
        tmp = os.path.join(path, f".{ctx['id']}-{ctx['n']:06d}.tmp")
        with open(tmp, "w") as f:
            for doc in docs:
                f.write(json.dumps(doc, default=str) + "\n")
        os.replace(tmp, os.path.join(path, f"docs-{ctx['id']}-{ctx['n']:06d}.jsonl"))
        ctx["n"] += 1
        ctx["buf"] = []

    sink = (
        SinkBuilder("doc-insert")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
    )
    if retry is not None:
        sink = sink.retry(retry)
    sink.write(df)


def read_docs(path: str) -> list[dict]:
    out: list[dict] = []
    for p in sorted(glob(os.path.join(path, "docs-*.jsonl"))):
        with open(p) as f:
            out.extend(json.loads(line) for line in f)
    return out


# ---------------------------------------------------------------------------
# K6 — producer with per-record extractors
# ---------------------------------------------------------------------------


def producer_sink(
    df: DataFrame,
    root: str,
    topic: str,
    value_fn: Callable[[Any], str],
    key_fn: Callable[[Any], str | None] = lambda row: None,
    props_fn: Callable[[Any], dict[str, str]] = lambda row: {},
    event_time_fn: Callable[[Any], int | None] = lambda row: None,
    batch_size: int = 512,
) -> None:
    """Message-producer sink with the Pulsar builder's extractor surface:
    every record carries (key, value, properties, eventTime) computed by
    user lambdas (PulsarSinkBuilder.java:100-131), batched and flushed
    like sendAsync + flush (:189-211). Lands in a message-log topic."""

    def create(writer_id: str) -> dict:
        return {"buf": []}

    def receive(ctx: dict, row) -> None:
        ctx["buf"].append(
            {
                "key": key_fn(row),
                "value": value_fn(row),
                "properties": props_fn(row),
                "event_time": event_time_fn(row),
            }
        )

    def flush(ctx: dict) -> None:
        if ctx["buf"]:
            append_segment(root, topic, ctx["buf"])
            ctx["buf"] = []

    (
        SinkBuilder("producer")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
        .write(df)
    )


# ---------------------------------------------------------------------------
# K1 — time-series point sink (InfluxDB shape)
# ---------------------------------------------------------------------------

_PRECISION_NS = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


def point_sink(
    df: DataFrame,
    path: str,
    measurement: str,
    time_col: str,
    tag_cols: list[str],
    field_cols: list[str],
    precision: str = "ms",
    batch_size: int = 1024,
    retry: RetryStrategy | None = None,
) -> None:
    """Measurement-typed point writer (InfluxDbSinks.java:44-64): each row
    becomes a Point(measurement, time @ precision, tags, fields) — the
    shape built at InfluxDbSourceTest.java:110-114 — buffered client-side
    and pushed in batches; a failed batch write raises and fails the job
    (the reference rethrows batch errors, InfluxDbSinks.java:55-60).

    ``time_col`` must be a TimestampType column; it is stored as an epoch
    integer in ``precision`` units ("ns"/"us"/"ms"/"s" — the Point's
    TimeUnit). Tags serialize as strings, fields as doubles, matching the
    reference's tag-vs-field split (SURVEY.md §1.1 InfluxDB row shape).
    Round-trips through the ``ts_store`` DSv2 source
    (``sources/dsv2.py``, one read per field) via ``points_to_parquet``.
    """
    if precision not in _PRECISION_NS:
        raise ValueError(f"precision must be one of {sorted(_PRECISION_NS)}")
    os.makedirs(path, exist_ok=True)
    div = _PRECISION_NS[precision]

    def create(writer_id: str) -> dict:
        return {"id": writer_id, "buf": [], "n": 0}

    def receive(ctx: dict, row) -> None:
        ts = row[time_col]
        epoch_ns = (
            int(ts.timestamp() * 1_000_000) * 1_000  # datetime: µs resolution
            if hasattr(ts, "timestamp")
            else int(ts) * _PRECISION_NS["s"]
        )
        ctx["buf"].append(
            {
                "measurement": measurement,
                "time": epoch_ns // div,
                "precision": precision,
                "tags": {t: str(row[t]) for t in tag_cols},
                "fields": {fc: float(row[fc]) for fc in field_cols},
            }
        )

    def flush(ctx: dict) -> None:
        if not ctx["buf"]:
            return
        tmp = os.path.join(path, f".{ctx['id']}-{ctx['n']:06d}.tmp")
        with open(tmp, "w") as f:
            for p in ctx["buf"]:
                f.write(json.dumps(p) + "\n")
        os.replace(tmp, os.path.join(path, f"points-{ctx['id']}-{ctx['n']:06d}.jsonl"))
        ctx["n"] += 1
        ctx["buf"] = []

    sink = (
        SinkBuilder("ts-point")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
    )
    if retry is not None:
        sink = sink.retry(retry)
    sink.write(df)


def read_points(path: str) -> list[dict]:
    out: list[dict] = []
    for p in sorted(glob(os.path.join(path, "points-*.jsonl"))):
        with open(p) as f:
            out.extend(json.loads(line) for line in f)
    return out


def points_to_parquet(path: str, out_file: str, tag: str, field_cols: list[str]) -> int:
    """Store-side compaction: materialize the point store as the wide
    parquet layout the ``ts_store`` source reads (one row per point,
    one column per field, nanosecond timestamps) — the analog of the
    time-series store indexing incoming points into its series storage.
    Returns the number of points written."""
    import pandas as pd

    pts = read_points(path)
    pdf = pd.DataFrame(
        {
            "time": pd.to_datetime(
                [p["time"] * _PRECISION_NS[p["precision"]] for p in pts], unit="ns"
            ),
            tag: [p["tags"][tag] for p in pts],
            **{fc: [p["fields"][fc] for p in pts] for fc in field_cols},
        }
    ).sort_values("time", kind="stable")
    pdf.to_parquet(out_file, index=False)
    return len(pdf)


# ---------------------------------------------------------------------------
# K7 — MQTT publisher with per-message QoS
# ---------------------------------------------------------------------------


def mqtt_sink(
    df: DataFrame,
    root: str,
    topic: str,
    value_fn: Callable[[Any], str],
    qos_fn: Callable[[Any], int] | None = None,
    default_qos: int = 1,
    retry: RetryStrategy | None = None,
    publish_fn: Callable[[str, str, list[dict]], Any] | None = None,
    batch_size: int = 512,
) -> None:
    """MQTT publish sink: per-message QoS chosen by ``qos_fn(row)`` —
    the reference's messageFn knob (MqttSinkBuilder.java:137-141), which
    builds the MqttMessage (payload + qos) per item — falling back to
    ``default_qos``; publish attempts run under ``retry``
    (RetryStrategy + backoff, mqtt/.../SinkContext.java:61-87).

    Delivery semantics by QoS, mirroring the protocol's:
    - **QoS 0** (fire-and-forget): a failed publish drops the messages
      silently — no retry, no error.
    - **QoS >= 1**: the publish is retried per the strategy and raises
      when exhausted; a retry after partial success may duplicate
      (at-least-once), which the acked_message_log subscription's
      idempotent-sink discipline absorbs downstream.

    ``publish_fn(root, topic, records)`` is the broker boundary
    (defaults to message-log append; swap for a real client). Each
    record carries its qos in ``properties`` so subscription-side
    readers can see it."""
    pub = publish_fn if publish_fn is not None else (
        lambda rt, tp, recs: append_segment(rt, tp, recs)
    )
    retry = retry if retry is not None else RetryStrategy.constant(3, 0.05)

    def create(writer_id: str) -> dict:
        return {"buf": []}

    def receive(ctx: dict, row) -> None:
        qos = int(qos_fn(row)) if qos_fn is not None else int(default_qos)
        ctx["buf"].append(
            {"key": None, "value": value_fn(row), "properties": {"qos": qos}}
        )

    def flush(ctx: dict) -> None:
        if not ctx["buf"]:
            return
        qos0 = [r for r in ctx["buf"] if r["properties"]["qos"] == 0]
        rest = [r for r in ctx["buf"] if r["properties"]["qos"] >= 1]
        ctx["buf"] = []
        if qos0:
            try:
                pub(root, topic, qos0)
            except Exception:  # noqa: BLE001 — QoS 0 drops on failure
                pass
        if rest:
            retry.run(lambda: pub(root, topic, rest))

    def destroy(ctx: dict) -> None:
        # a stateful publish boundary (e.g. real_clients.paho_publish_fn
        # holding a connected client + network-loop thread) exposes
        # close(); each task deserialized its own copy of `pub`, so
        # closing here releases exactly this writer's client — without
        # it, reused python workers accumulate live broker connections
        close = getattr(pub, "close", None)
        if close is not None:
            close()

    (
        SinkBuilder("mqtt")
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .write(df)
    )
