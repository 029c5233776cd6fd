"""Concrete sink instantiations of the buffered/flushing/retrying
SinkBuilder framework — one per reference sink family, each writing to a
file-backed store the test environment can host. The live-client twins
in ``real_clients.py`` (redis/mongo/influx/pulsar) run on the same
builder and share this module's row mappings: ``point_record_fn`` (K1)
and ``message_record_fn`` (K6).

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
from collections.abc import Callable, Iterable
from glob import glob
from typing import Any

from pyspark.sql import DataFrame

from hazelcast_jet_contrib_spark.sinks.builder import (
    CLIENT_RETRY,
    RetryStrategy,
    SinkBuilder,
)
from hazelcast_jet_contrib_spark.streaming.message_log import append_segment


def _flush_files(path: str, kind: str) -> list[tuple[int, str]]:
    """``(run number, file)`` of each flush file of a ``_file_store``, in
    read order. Raises on a directory of a former layout — the
    one-JSON-document ``<kind>-*.json`` files the KV hash and sorted set
    stores were once written as, or flush files without a run number —
    instead of reading it as empty or out of order."""
    if glob(os.path.join(path, f"{kind}-*.json")):
        raise ValueError(f"{path}: {kind}-*.json flush files of a former layout")
    files = []
    for p in glob(os.path.join(path, f"{kind}-*.jsonl")):
        run = os.path.basename(p)[len(kind) + 1 :].split("-", 1)[0]
        if not run.isdigit():
            raise ValueError(f"{path}: {kind} flush files of a former layout (no run number)")
        files.append((int(run), p))
    return sorted(files)


def _file_store(
    path: str, kind: str, encode: Callable[[list], Iterable[Any]] = lambda items: items
) -> tuple[Callable[[str], dict], Callable[[dict, list], None]]:
    """``(create_fn, flush_fn)`` of a file-backed store: each flush writes
    ``encode(items)`` as one jsonl file
    ``<kind>-<run>-<writer id>-<flush n>-<monotonic ns>.jsonl``,
    atomically (tmp + ``os.replace``), so a reader never sees half a
    batch and no flush overwrites another. The run number is taken here,
    on the driver, once per sink call: one more than the highest in the
    directory, so every flush of a later call reads after every flush of
    an earlier one."""
    os.makedirs(path, exist_ok=True)
    run = 1 + max((r for r, _ in _flush_files(path, kind)), default=0)

    def create(writer_id: str) -> dict:
        return {"id": writer_id, "n": 0}

    def flush(ctx: dict, items: list) -> None:
        records = encode(items)
        name = f"{kind}-{run:06d}-{ctx['id']}-{ctx['n']:06d}-{time.monotonic_ns()}.jsonl"
        final = os.path.join(path, name)
        with open(final + ".tmp", "w") as f:
            f.writelines(json.dumps(r, default=str) + "\n" for r in records)
        os.replace(final + ".tmp", final)
        ctx["n"] += 1

    return create, flush


def _read_store(path: str, kind: str) -> list:
    """Store-side read-back of a ``_file_store``: records in run order,
    then flush-file name order (per writer, the flush counter orders
    them)."""
    out: list = []
    for _, p in _flush_files(path, kind):
        with open(p) as f:
            out.extend(json.loads(line) for line in f)
    return out


def _write(
    name: str,
    df: DataFrame,
    receive: Callable[[Any], Any],
    store: tuple[Callable[[str], Any] | None, Callable[[Any, list], None]],
    batch_size: int,
    retry: RetryStrategy | None = None,
) -> None:
    create, flush = store
    (
        SinkBuilder(name)
        .create_fn(create)
        .receive_fn(receive)
        .flush_fn(flush)
        .batch_size(batch_size)
        .retry(retry or RetryStrategy.never())
        .write(df)
    )


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
    """Bulk KV upsert: rows accumulate per writer and flush as one
    HMSET-style map. Repartitioning by key gives each writer a disjoint
    key set, so last-write-wins holds globally; within a batch the map
    keeps the latest value per key (RedisSinks.java:145-150
    receive-into-HashMap contract)."""
    _write(
        "kv-hash",
        df.repartition(key_col),
        lambda row: (str(row[key_col]), str(row[value_col])),
        _file_store(path, "hmset", lambda items: dict(items).items()),
        batch_size,
        retry,
    )


def read_kv_hash(path: str) -> dict[str, str]:
    """Merge flush files in write order: a later sink call's value wins;
    within one call keys are disjoint across writers, so order only
    matters within one writer."""
    return dict(_read_store(path, "hmset"))


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
    _write(
        "sorted-set",
        df.repartition(member_col),
        lambda row: (float(row[score_col]), str(row[member_col])),
        _file_store(path, "zadd"),
        batch_size,
    )


def read_sorted_set(path: str) -> list[tuple[float, str]]:
    """Members ordered by (score, member); last-written score per member
    wins."""
    latest = {member: score for score, member in _read_store(path, "zadd")}
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
    _write(
        "stream-xadd",
        df,
        lambda row: {
            "key": None if key_col is None else str(row[key_col]),
            "value": str(row[value_col]),
        },
        (None, lambda ctx, items: append_segment(root, stream, items)),
        batch_size,
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
    bypassValidation. Validation runs in the flush, so a store-side
    validation error is retried with the batch."""

    def valid_docs(docs: list[dict]) -> list[dict]:
        out = []
        for doc in docs:
            if validate_fn is not None and not validate_fn(doc):
                if ordered:
                    raise ValueError(f"insertMany(ordered) aborted on invalid doc: {doc}")
                continue
            out.append(doc)
        return out

    _write(
        "doc-insert",
        df,
        lambda row: row.asDict(recursive=True),
        _file_store(path, "docs", valid_docs),
        batch_size,
        retry,
    )


def read_docs(path: str) -> list[dict]:
    return _read_store(path, "docs")


# ---------------------------------------------------------------------------
# K6 — producer with per-record extractors
# ---------------------------------------------------------------------------


def message_record_fn(
    value_fn: Callable[[Any], Any],
    key_fn: Callable[[Any], Any] | None = None,
    props_fn: Callable[[Any], dict | None] | None = None,
    event_time_fn: Callable[[Any], Any] | None = None,
) -> Callable[[Any], dict]:
    """``row -> {key, value, properties, event_time}``: the Pulsar
    builder's extractor record (PulsarSinkBuilder.java:100-131), shared
    by ``producer_sink`` and ``real_clients.pulsar_producer_sink``. An
    absent extractor yields None (properties: ``{}``)."""

    def record(row) -> dict:
        return {
            "key": key_fn(row) if key_fn is not None else None,
            "value": value_fn(row),
            "properties": props_fn(row) if props_fn is not None else {},
            "event_time": event_time_fn(row) if event_time_fn is not None else None,
        }

    return record


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
    _write(
        "producer",
        df,
        message_record_fn(value_fn, key_fn, props_fn, event_time_fn),
        (None, lambda ctx, items: append_segment(root, topic, items)),
        batch_size,
    )


# ---------------------------------------------------------------------------
# K1 — time-series point sink (InfluxDB shape)
# ---------------------------------------------------------------------------

_PRECISION_NS = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


def point_record_fn(
    measurement: str,
    time_col: str,
    tag_cols: list[str],
    field_cols: list[str],
    precision: str = "ms",
) -> Callable[[Any], dict]:
    """``row -> {measurement, time, precision, tags, fields}``: the
    row → Point mapping shared by ``point_sink`` and
    ``real_clients.influx_sink``. Tags serialize as strings, fields as
    doubles (the reference's tag-vs-field split, SURVEY.md §1.1).

    ``time`` is the UTC epoch in ``precision`` units. A naive datetime
    is read in the process-local zone — the zone PySpark's
    ``TimestampType.fromInternal`` produced it in, so the epoch is the
    instant Spark holds on any host timezone; an aware datetime keeps
    its own zone; a bare int is epoch seconds."""
    if precision not in _PRECISION_NS:
        raise ValueError(f"precision must be one of {sorted(_PRECISION_NS)}")
    div = _PRECISION_NS[precision]

    def record(row) -> dict:
        ts = row[time_col]
        epoch_ns = (
            int(ts.timestamp() * 1_000_000) * 1_000  # datetime: µs resolution
            if hasattr(ts, "timestamp")
            else int(ts) * _PRECISION_NS["s"]
        )
        return {
            "measurement": measurement,
            "time": epoch_ns // div,
            "precision": precision,
            "tags": {t: str(row[t]) for t in tag_cols},
            "fields": {fc: float(row[fc]) for fc in field_cols},
        }

    return record


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
    TimeUnit); see ``point_record_fn``. Round-trips through the
    ``ts_store`` DSv2 source (``sources/dsv2.py``, one read per field)
    via ``points_to_parquet``.
    """
    _write(
        "ts-point",
        df,
        point_record_fn(measurement, time_col, tag_cols, field_cols, precision),
        _file_store(path, "points"),
        batch_size,
        retry,
    )


def read_points(path: str) -> list[dict]:
    return _read_store(path, "points")


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

    The builder itself never retries a flush here (its strategy stays
    ``never()``): only the QoS >= 1 publish is retried, so a QoS 0
    message is never re-sent.

    ``publish_fn(root, topic, records)`` is the broker boundary
    (defaults to message-log append; swap for a real client). Each
    record carries its qos in ``properties`` so subscription-side
    readers can see it."""
    pub = publish_fn if publish_fn is not None else (
        lambda rt, tp, recs: append_segment(rt, tp, recs)
    )
    retry = retry if retry is not None else CLIENT_RETRY

    def receive(row) -> dict:
        qos = int(qos_fn(row)) if qos_fn is not None else int(default_qos)
        return {"key": None, "value": value_fn(row), "properties": {"qos": qos}}

    def flush(ctx: Any, items: list[dict]) -> None:
        qos0 = [r for r in items if r["properties"]["qos"] == 0]
        rest = [r for r in items if r["properties"]["qos"] >= 1]
        if qos0:
            try:
                pub(root, topic, qos0)
            except Exception:  # noqa: BLE001 — QoS 0 drops on failure
                pass
        if rest:
            retry.run(lambda: pub(root, topic, rest))

    def destroy(ctx: Any) -> None:
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
        .receive_fn(receive)
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .write(df)
    )
