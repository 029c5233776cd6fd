"""Optional real-client adapters: the builder boundaries bound to live
client libraries when they are installed.

Every connector in this repo exercises the reference's *contract*
(builder lambdas, offsets, QoS, retry) against a pluggable boundary —
``connection_fn`` on :class:`~.sources.builder.BatchSourceBuilder`,
``publish_fn`` on :func:`~.sinks.connectors.mqtt_sink`, ``create_fn``
on :class:`~.sinks.builder.SinkBuilder`. The reference instead binds
those lambdas to real clients (async lettuce channels,
RedisSources.java:397-460; Paho MqttClient, MqttSourceBuilder.java;
mongo-driver) and proves them with Testcontainers. This module closes
that gap from our side: it INSTANTIATES the same builders against
real client libraries — redis-py and paho-mqtt — behind import-time
gates, so

- with the library absent (this CI container), importing this module
  still works, every adapter raises a single clear ``ImportError``
  naming the pip package, and the glue logic (partition slicing,
  pushdown forwarding, pipeline batching, QoS routing, TLS config) is
  proven every suite run by injected-stub tests
  (tests/test_real_clients.py);
- with the library installed and a server reachable, the skip-marked
  live tests run the identical code path end-to-end (the reference's
  quarantined-live-test discipline, TwitterSourceTest.java:49
  ``@Category(NightlyTest)``). README has the recipes.

Secured MQTT (SecuredMqttSourceTest.java / SecuredMosquittoContainer
parity): :class:`MqttTls` carries the broker-auth TLS surface —
CA-verified server auth, optional mutual auth (client cert + key),
and an opt-out hostname check — and applies it to a Paho client; the
in-process message-log broker has no network socket, so TLS lives on
this real-client boundary by design.

All lambdas built here are cloudpickle-serialized into Spark tasks;
client objects are created INSIDE the task (never on the driver) and
imports happen inside the lambdas so the driver can plan without the
library installed on it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from hazelcast_jet_contrib_spark.sinks.builder import (
    CLIENT_RETRY,
    RetryStrategy,
    SinkBuilder,
)
from hazelcast_jet_contrib_spark.sinks.connectors import (
    message_record_fn,
    point_record_fn,
)
from hazelcast_jet_contrib_spark.sources.builder import BatchSourceBuilder
from hazelcast_jet_contrib_spark.streaming.message_log import SpoolAppender


def _require(module: str, pip_name: str):
    """Import-or-explain: adapters depend on optional client libraries
    that are deliberately NOT hard dependencies of the engine."""
    import importlib

    try:
        return importlib.import_module(module)
    except ImportError as ex:  # pragma: no cover - env without the lib
        raise ImportError(
            f"the {module!r} client library is required for this adapter "
            f"but is not installed; `pip install {pip_name}`. The engine "
            f"itself does not depend on it — only this real-client "
            f"binding does."
        ) from ex


# ---------------------------------------------------------------------------
# Redis (redis-py): batch hash snapshot source, zset range source with
# server-side pushdown, bulk hash sink
# ---------------------------------------------------------------------------


def redis_hash_slices(hash_keys: list[str], slices: int) -> list[list[str]]:
    """Partition descriptors for a hash snapshot read: round-robin
    slices of the key list, one Spark task per slice (the analog of the
    reference's per-processor assignment, RedisSources.java:693-756).
    Pure function so the stub tests can pin the slicing contract."""
    keys = list(hash_keys)
    n = max(1, min(int(slices), len(keys) or 1))
    return [keys[i::n] for i in range(n)]


def redis_hash_source(
    spark: SparkSession,
    url: str,
    hash_keys: list[str],
    slices: int = 8,
    socket_timeout: float = 5.0,
) -> DataFrame:
    """HGETALL snapshot of the given hash keys through redis-py
    (RedisSources.java:100-183 live binding): one task per key slice,
    each opens its own client, reads only its slice, emits
    (key, field, value) rows as Arrow batches. Explicit schema so
    Catalyst can prune above the source."""

    def conn():
        redis = _require("redis", "redis")
        return redis.Redis.from_url(
            url, socket_timeout=socket_timeout, decode_responses=True
        )

    return (
        BatchSourceBuilder("redis-hash")
        .connection_fn(conn)
        .search_fn(hash_search_fn)
        .destroy_fn(lambda client: client.close())
        .schema("key string, field string, value string")
        .partitions(redis_hash_slices(hash_keys, slices))
        .build(spark)
    )


def hash_search_fn(client: Any, part: list[str], flt: Any, proj: Any):
    """The hash read itself, factored out so stub tests drive it with a
    fake client: HGETALL per key in this task's slice."""
    for k in part:
        for f, v in client.hgetall(k).items():
            yield {"key": k, "field": f, "value": v}


def redis_zset_source(
    spark: SparkSession,
    url: str,
    zset_key: str,
    score_ranges: list[tuple[float | None, float | None]],
    socket_timeout: float = 5.0,
) -> DataFrame:
    """Sorted-set range read with SERVER-SIDE pushdown through redis-py
    (RedisSources.java:200-256,479 live binding): each partition
    descriptor is a (min, max] score range executed as ZRANGEBYSCORE on
    the server — the reference's manual-pushdown contract, the range
    never ships rows it excludes. Ranges are half-open (min exclusive
    via the '(' prefix, max inclusive) so adjacent partitions never
    double-read a boundary score; use ``float("-inf")`` (or ``None``)
    as the FIRST range's min to include members sitting exactly on the
    global lower bound — a finite first min excludes its own boundary
    by the half-open contract — and ``None``/``float("inf")`` as the
    LAST range's max for an open upper end (max is inclusive, so
    ``+inf`` is safe on that side)."""

    def conn():
        redis = _require("redis", "redis")
        return redis.Redis.from_url(
            url, socket_timeout=socket_timeout, decode_responses=True
        )

    return (
        BatchSourceBuilder("redis-zset")
        .connection_fn(conn)
        .search_fn(zset_search_fn)
        .destroy_fn(lambda client: client.close())
        .schema("member string, score double")
        .partitions(
            [
                (
                    zset_key,
                    float("-inf") if lo is None else float(lo),
                    float("inf") if hi is None else float(hi),
                )
                for lo, hi in score_ranges
            ]
        )
        .build(spark)
    )


def zset_search_fn(client: Any, part: tuple[str, float, float], flt: Any, proj: Any):
    """ZRANGEBYSCORE with the exclusive-min syntax — the pushdown runs
    on the server, factored out for stub tests. A -inf min is sent as
    the inclusive ``-inf`` token (nothing exists below it to exclude),
    so the first range of a full-space partitioning keeps members
    sitting exactly on the global lower bound. Bounds arrive as strings
    when the descriptor rode the builder's array<string> partition
    frame — normalize before comparing."""
    key, lo, hi = part
    lo_f, hi_f = float(lo), float(hi)
    min_arg = "-inf" if lo_f == float("-inf") else f"({lo_f}"
    max_arg = "+inf" if hi_f == float("inf") else hi_f
    for member, score in client.zrangebyscore(key, min_arg, max_arg, withscores=True):
        yield {"member": member, "score": float(score)}


def redis_hash_sink(
    df: DataFrame,
    url: str,
    hash_key: str,
    field_fn: Callable[[Any], str],
    value_fn: Callable[[Any], str],
    batch_size: int = 512,
    retry: RetryStrategy | None = None,
    socket_timeout: float = 5.0,
) -> None:
    """Bulk hash sink through redis-py (RedisSinks.java:64-151 live
    binding): rows buffer per partition and flush as ONE pipelined
    HSET mapping per batch — bulk last-write-wins, exactly the
    reference's accumulate-then-HMSET shape. Flushes run under the
    retry strategy; HSET is idempotent per (key, field), so replays
    are safe (the XA-free exactly-once discipline, SURVEY.md §2.7)."""

    def create(writer_id: str) -> dict:
        redis = _require("redis", "redis")
        client = redis.Redis.from_url(url, socket_timeout=socket_timeout)
        return {"client": client}

    def flush(ctx: dict, items: list) -> None:
        # a retried flush re-sends the same mapping; HSET is idempotent
        # per (key, field), so a retry after partial success is safe
        pipe = ctx["client"].pipeline(transaction=False)
        pipe.hset(hash_key, mapping=dict(items))
        pipe.execute()

    def destroy(ctx: dict) -> None:
        ctx["client"].close()

    (
        SinkBuilder("redis-hash-sink")
        .create_fn(create)
        .receive_fn(lambda row: (field_fn(row), value_fn(row)))
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .retry(retry if retry is not None else CLIENT_RETRY)
        .write(df)
    )


# ---------------------------------------------------------------------------
# MongoDB (pymongo): partitioned find() source with pushdown, insertMany sink
# ---------------------------------------------------------------------------


def mongo_source(
    spark: SparkSession,
    uri: str,
    database: str,
    collection: str,
    schema: str,
    partition_filters: list[dict],
    find_filter: dict | None = None,
    projection: dict | None = None,
) -> DataFrame:
    """Partitioned ``find()`` read through pymongo
    (MongoDBSourceBuilder.java:84-126 connection→search→map→destroy
    live binding): each partition descriptor is a filter document (id
    ranges, shard keys) ANDed with the base ``find_filter``, and both
    filter and projection execute SERVER-SIDE — the reference's manual
    pushdown (MongoDBSources.java:85-93). One task per partition
    filter; each opens its own MongoClient. The explicit ``schema``
    keeps Catalyst able to prune above the source."""

    def conn():
        pymongo = _require("pymongo", "pymongo")
        return pymongo.MongoClient(uri)

    base = dict(find_filter or {})
    proj = dict(projection) if projection is not None else None

    def search(client, part, flt, prj):
        import json

        return mongo_search_fn(
            client, database, collection, base, json.loads(part), proj
        )

    import json

    # descriptors ride the partition frame as JSON strings: filter
    # documents nest ({"_id": {"$gte": ...}}), and the builder's
    # map<string,string> descriptor coercion would stringify the inner
    # dicts into unusable reprs
    return (
        BatchSourceBuilder("mongo-find")
        .connection_fn(conn)
        .search_fn(search)
        .destroy_fn(lambda client: client.close())
        .schema(schema)
        .partitions([json.dumps(p or {}) for p in (partition_filters or [{}])])
        .build(spark)
    )


def mongo_search_fn(
    client: Any,
    database: str,
    collection: str,
    base_filter: dict,
    part_filter: dict,
    projection: dict | None,
):
    """The find() itself, factored out for stub tests: base and
    partition filters compose with $and (never clobbering a shared
    key), projection passes through verbatim — both run on the
    server."""
    if base_filter and part_filter:
        query: dict = {"$and": [base_filter, part_filter]}
    else:
        query = base_filter or part_filter or {}
    yield from client[database][collection].find(query, projection)


def mongo_sink(
    df: DataFrame,
    uri: str,
    database: str,
    collection: str,
    doc_fn: Callable[[Any], dict],
    ordered: bool = False,
    bypass_validation: bool = False,
    batch_size: int = 512,
    retry: RetryStrategy | None = None,
) -> None:
    """Buffered ``insertMany`` sink through pymongo
    (MongoDBSinkBuilder.java:169-183 live binding): rows buffer per
    partition and flush as one insert_many(ordered=..., bypass
    validation=...) call under the retry strategy. Delivery is
    AT-LEAST-ONCE exactly like the reference's: insertMany is not
    idempotent, so a retry after a partially applied batch can
    duplicate — give documents deterministic ``_id``s in ``doc_fn`` so
    replays collide (duplicate-key errors on an unordered insert leave
    the already-present documents in place) or dedupe downstream, the
    same discipline the message-log sink documents."""

    def create(writer_id: str) -> dict:
        pymongo = _require("pymongo", "pymongo")
        client = pymongo.MongoClient(uri)
        return {"client": client}

    def flush(ctx: dict, docs: list) -> None:
        try:
            ctx["client"][database][collection].insert_many(
                list(docs),
                ordered=ordered,
                bypass_document_validation=bypass_validation,
            )
        except Exception as ex:
            # A retry after a PARTIALLY applied batch collides with the
            # already-inserted documents. With deterministic _ids (the
            # documented replay discipline) that surfaces as a
            # BulkWriteError whose every writeError is duplicate-key
            # (code 11000) — which means every document is present, so
            # the flush SUCCEEDED from the at-least-once contract's
            # point of view. Any other error (or any non-duplicate
            # writeError mixed in) re-raises into the retry strategy.
            # Shape-checked via ex.details so no pymongo import is
            # needed on this path.
            details = getattr(ex, "details", None)
            werrs = (details or {}).get("writeErrors") if isinstance(details, dict) else None
            if not werrs or any(e.get("code") != 11000 for e in werrs):
                raise
            if ordered:
                # An ORDERED insert_many stops at the FIRST error, so an
                # all-duplicate-key writeErrors list only proves the
                # colliding documents up to the stop point exist — the
                # tail of the batch was never attempted (ADVICE r11 #1).
                # Success requires every document accounted for:
                # inserted this attempt + collided == the whole batch.
                # Anything else re-raises; note that a replayed ordered
                # batch with deterministic _ids re-collides at its first
                # document on every retry, so ordered + replay is an
                # unsatisfiable combination by construction — prefer
                # ordered=False (the default) for at-least-once sinks.
                n_ins = details.get("nInserted")
                if n_ins is None or n_ins + len(werrs) != len(docs):
                    raise

    def destroy(ctx: dict) -> None:
        ctx["client"].close()

    (
        SinkBuilder("mongo-sink")
        .create_fn(create)
        .receive_fn(doc_fn)
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .retry(retry if retry is not None else CLIENT_RETRY)
        .write(df)
    )


# ---------------------------------------------------------------------------
# InfluxDB (influxdb-client): chunked Flux query source + batched point
# sink (InfluxDbSources.java:79-136,229-315 / InfluxDbSinks.java:44-64
# live bindings)
# ---------------------------------------------------------------------------


def influx_flux_records(client: Any, flux: str):
    """The query itself, factored out for stub tests:
    ``query_api().query_stream(flux)`` — the CHUNKED read path (records
    parse incrementally off the HTTP stream, the analog of the
    reference's chunkSize-bounded series iteration,
    InfluxDbSources.java:229-315). Yields FluxRecord-shaped objects."""
    yield from client.query_api().query_stream(flux)


def influx_long_record_fn(tag_key: str) -> Callable[[Any], dict]:
    """Map a FluxRecord to the engine's long measurement layout —
    ``(measurement, tag, time, field, val)``: the ``(tag, time, val)``
    row the in-process ``ts_store`` DSv2 source emits per field
    (``sources/dsv2.py``), plus the measurement and field names, since
    one Flux stream carries every field of a measurement. The
    typed/POJO path (InfluxDbSources.java:167-221)
    is any other ``record_fn`` returning dicts matching the caller's
    explicit StructType. The time stays the store's tz-aware UTC
    instant: Spark reads a naive one in the session time zone, which
    would shift every point by that zone's UTC offset."""

    def rec_fn(r: Any) -> dict:
        return {
            "measurement": r.get_measurement(),
            "tag": str(r.values.get(tag_key)),
            "time": r.get_time(),
            "field": r.get_field(),
            "val": float(r.get_value()),
        }

    return rec_fn


def influx_source(
    spark: SparkSession,
    url: str,
    token: str,
    org: str,
    partition_fluxes: list[str],
    schema: str,
    record_fn: Callable[[Any], dict],
) -> DataFrame:
    """Partitioned Flux read through influxdb-client
    (InfluxDbSources.java:79-136 connection→query→map→destroy live
    binding): each partition descriptor is a complete Flux query —
    typically the same query template sharded by time range — so the
    range/measurement/field predicates run SERVER-SIDE, exactly like
    the reference embedding ``WHERE time > ...`` in the query text
    (InfluxDbSources.java:57). One task per flux string; each opens its
    own client and streams records chunked (never a full-result
    collect). The explicit ``schema`` keeps Catalyst able to prune
    above the source; ``record_fn`` is the measurement projection
    (MeasurementProjection.java:38) or typed mapping
    (InfluxDbSources.java:167-221)."""

    def conn():
        ic = _require("influxdb_client", "influxdb-client")
        return ic.InfluxDBClient(url=url, token=token, org=org)

    def search(client, part, flt, prj):
        for r in influx_flux_records(client, part):
            yield record_fn(r)

    return (
        BatchSourceBuilder("influx-flux")
        .connection_fn(conn)
        .search_fn(search)
        .destroy_fn(lambda client: client.close())
        .schema(schema)
        .partitions(list(partition_fluxes))
        .build(spark)
    )


def _influx_sync_write_api(ic_mod: Any, client: Any):
    """A write_api whose ``write`` RAISES on failure in the calling
    thread: the real library's default is background-batching (errors
    surface in a callback, invisible to the sink's retry strategy), so
    the adapter always requests synchronous writes — the reference
    rethrows batch errors for the same reason (InfluxDbSinks.java:55-60).
    Falls back to a top-level SYNCHRONOUS attr for single-file injected
    stubs that have no ``influxdb_client.client.write_api`` subpackage."""
    try:
        from influxdb_client.client.write_api import SYNCHRONOUS
    except ImportError:
        SYNCHRONOUS = getattr(ic_mod, "SYNCHRONOUS", None)
    if SYNCHRONOUS is None:
        return client.write_api()
    return client.write_api(write_options=SYNCHRONOUS)


def influx_sink(
    df: DataFrame,
    url: str,
    token: str,
    org: str,
    bucket: str,
    measurement: str,
    time_col: str,
    tag_cols: list[str],
    field_cols: list[str],
    precision: str = "ms",
    batch_size: int = 1024,
    retry: RetryStrategy | None = None,
) -> None:
    """Batched point writer through influxdb-client
    (InfluxDbSinks.java:44-64 live binding): each row becomes a
    ``Point(measurement).tag(...).field(...).time(epoch, precision)``
    — the row→Point mapping ``sinks.connectors.point_record_fn``,
    shared with the in-process ``point_sink`` — buffered per partition
    writer and flushed as one synchronous ``write_api.write`` call under the retry
    strategy. Replays are SAFE here, unlike insert-only stores: Influx
    upserts on (measurement, tagset, timestamp), so a retried batch
    overwrites identical points instead of duplicating — idempotent
    at-least-once by the store's own semantics."""
    to_record = point_record_fn(measurement, time_col, tag_cols, field_cols, precision)

    def create(writer_id: str) -> dict:
        ic = _require("influxdb_client", "influxdb-client")
        client = ic.InfluxDBClient(url=url, token=token, org=org)
        return {
            "ic": ic,
            "client": client,
            "wapi": _influx_sync_write_api(ic, client),
        }

    def flush(ctx: dict, records: list[dict]) -> None:
        ic = ctx["ic"]
        prec = getattr(ic.WritePrecision, precision.upper())
        points = []
        for r in records:
            p = ic.Point(r["measurement"])
            for t, v in r["tags"].items():
                p = p.tag(t, v)
            for fc, v in r["fields"].items():
                p = p.field(fc, v)
            points.append(p.time(r["time"], prec))
        ctx["wapi"].write(bucket=bucket, org=org, record=points)

    def destroy(ctx: dict) -> None:
        ctx["client"].close()

    (
        SinkBuilder("influx-sink")
        .create_fn(create)
        .receive_fn(to_record)
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .retry(retry if retry is not None else CLIENT_RETRY)
        .write(df)
    )


# ---------------------------------------------------------------------------
# Pulsar (pulsar-client): replayable reader source + producer sink with
# key/props/eventTime extractors (PulsarReaderBuilder.java:156-199 /
# PulsarSinkBuilder.java:100-131 live bindings)
# ---------------------------------------------------------------------------


def pulsar_read_fn(
    pulsar_mod: Any,
    client: Any,
    topic: str,
    start_after: bytes | None = None,
    timeout_ms: int = 5000,
):
    """The reader loop, factored out for stub tests: a non-subscription
    READER from a replayable MessageId — ``start_after`` is the
    serialized id of the last PROCESSED message (resume is exclusive,
    the MessageLogStreamReader offset contract; None = earliest), and
    the loop drains until ``has_message_available()`` goes false — the
    reference's batch-bounded readNextAsync drain
    (PulsarReaderBuilder.java:156-199). Yields transport dicts whose
    ``message_id`` is ``MessageId.serialize()`` bytes — store it in the
    checkpoint and pass it back as the next call's ``start_after`` for
    exactly-once resume."""
    start = (
        pulsar_mod.MessageId.deserialize(start_after)
        if start_after is not None
        else pulsar_mod.MessageId.earliest
    )
    reader = client.create_reader(topic, start_message_id=start)
    try:
        while reader.has_message_available():
            msg = reader.read_next(timeout_millis=timeout_ms)
            yield {
                "topic": topic,
                "key": msg.partition_key() or None,
                "value": bytes(msg.data()),
                "properties": {str(k): str(v) for k, v in (msg.properties() or {}).items()},
                "event_time": int(msg.event_timestamp() or 0),
                "message_id": bytes(msg.message_id().serialize()),
            }
    finally:
        reader.close()


def pulsar_reader_source(
    spark: SparkSession,
    service_url: str,
    topics: list[str],
    start_after: dict[str, bytes] | None = None,
    timeout_ms: int = 5000,
) -> DataFrame:
    """Replayable batch read through pulsar-client
    (PulsarSources.java:84-92 / PulsarReaderBuilder.java:48-216 live
    binding): one task per topic (pass the ``-partition-N`` names of a
    partitioned topic for one task per broker partition); each opens
    its own client+reader and drains from its ``start_after`` offset.
    Values stay ``binary`` — decode with
    :class:`~.streaming.codec.StructCodec` (the ``Schema<M>`` typed
    path) above the source, where Catalyst can prune it."""
    offsets = dict(start_after or {})

    def conn():
        pulsar = _require("pulsar", "pulsar-client")
        return (pulsar, pulsar.Client(service_url))

    def search(conn_pair, part, flt, prj):
        pulsar, client = conn_pair
        return pulsar_read_fn(
            pulsar, client, part, offsets.get(part), timeout_ms=timeout_ms
        )

    return (
        BatchSourceBuilder("pulsar-reader")
        .connection_fn(conn)
        .search_fn(search)
        .destroy_fn(lambda conn_pair: conn_pair[1].close())
        .schema(
            "topic string, key string, value binary, "
            "properties map<string,string>, event_time long, message_id binary"
        )
        .partitions(list(topics))
        .build(spark)
    )


def pulsar_producer_sink(
    df: DataFrame,
    service_url: str,
    topic: str,
    value_fn: Callable[[Any], bytes],
    key_fn: Callable[[Any], str | None] | None = None,
    props_fn: Callable[[Any], dict | None] | None = None,
    event_time_fn: Callable[[Any], int] | None = None,
    batch_size: int = 512,
    retry: RetryStrategy | None = None,
) -> None:
    """Producer sink through pulsar-client with the reference's three
    extractors (PulsarSinkBuilder.java:100-131): ``key_fn`` →
    partition key, ``props_fn`` → message properties, ``event_time_fn``
    → event timestamp (epoch millis), mapped by
    ``sinks.connectors.message_record_fn`` as in ``producer_sink``; the
    send coerces properties to strings and skips absent values. Records
    buffer per partition writer and flush as sequential synchronous sends (each send raises on
    broker rejection, engaging the retry strategy — at-least-once, the
    reference's delivery level). One client+producer per writer,
    created inside the task."""

    def create(writer_id: str) -> dict:
        pulsar = _require("pulsar", "pulsar-client")
        client = pulsar.Client(service_url)
        return {
            "client": client,
            "producer": client.create_producer(topic),
        }

    def flush(ctx: dict, msgs: list[dict]) -> None:
        for m in msgs:
            kwargs: dict[str, Any] = {}
            if m["key"] is not None:
                kwargs["partition_key"] = m["key"]
            if m["properties"]:
                kwargs["properties"] = {str(a): str(b) for a, b in m["properties"].items()}
            if m["event_time"] is not None:
                kwargs["event_timestamp"] = int(m["event_time"])
            ctx["producer"].send(m["value"], **kwargs)

    def destroy(ctx: dict) -> None:
        ctx["producer"].close()
        ctx["client"].close()

    (
        SinkBuilder("pulsar-producer")
        .create_fn(create)
        .receive_fn(message_record_fn(value_fn, key_fn, props_fn, event_time_fn))
        .flush_fn(flush)
        .destroy_fn(destroy)
        .batch_size(batch_size)
        .retry(retry if retry is not None else CLIENT_RETRY)
        .write(df)
    )


# ---------------------------------------------------------------------------
# MQTT (paho-mqtt): TLS config + live publish_fn for mqtt_sink
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MqttTls:
    """Broker TLS configuration (SecuredMqttSourceTest.java /
    SecuredMosquittoContainer.java parity):

    - ``ca_certs``: PEM bundle the broker's server cert must chain to
      (server auth — the secured-Mosquitto ``cafile`` side).
    - ``certfile``/``keyfile``: client cert + key for MUTUAL auth
      (``require_certificate true`` on the broker). Both or neither.
    - ``check_hostname``: disable only for IP-addressed test brokers;
      verification of the chain itself is never disabled here — an
      adapter that silently skipped verification would be a downgrade
      the reference's secured tests exist to prevent.
    """

    ca_certs: str | None = None
    certfile: str | None = None
    keyfile: str | None = None
    check_hostname: bool = True

    def __post_init__(self) -> None:
        if (self.certfile is None) != (self.keyfile is None):
            raise ValueError(
                "mutual-auth TLS needs BOTH certfile and keyfile (or neither)"
            )

    def to_ssl_context(self):
        """The actual ``ssl.SSLContext``: built here (not inside paho)
        so the config is provable without a broker — tests load real
        openssl-generated certs through this and assert server-auth vs
        mutual-auth behavior."""
        import ssl

        ctx = ssl.create_default_context(
            purpose=ssl.Purpose.SERVER_AUTH, cafile=self.ca_certs
        )
        ctx.check_hostname = self.check_hostname
        ctx.verify_mode = ssl.CERT_REQUIRED
        if self.certfile is not None:
            ctx.load_cert_chain(self.certfile, self.keyfile)
        return ctx

    def apply(self, client: Any) -> None:
        """Arm a Paho client with this context (tls_set_context is the
        documented paho surface for a pre-built SSLContext)."""
        client.tls_set_context(self.to_ssl_context())


def paho_publish_fn(
    host: str,
    port: int = 1883,
    client_id_prefix: str = "sg-sink",
    username: str | None = None,
    password: str | None = None,
    tls: MqttTls | None = None,
    keepalive: int = 60,
    publish_timeout: float = 10.0,
    mqtt_module: Any | None = None,
) -> Callable[[str, str, list[dict]], None]:
    """A ``publish_fn(root, topic, records)`` for
    :func:`~.sinks.connectors.mqtt_sink` that publishes through a real
    Paho client (MqttSinkBuilder.java:66-91 live binding) instead of
    the in-process message log. The ``root`` argument (the message-log
    directory in the default boundary) is ignored — a live broker has
    no filesystem root.

    One client per partition writer, created lazily INSIDE the task on
    first flush and reused across flushes (paho's network loop runs on
    its background thread). Per-record QoS comes from the record's
    ``properties`` — exactly what mqtt_sink's receive path puts there —
    and QoS>=1 publishes block on broker acknowledgment
    (``wait_for_publish``) so the sink's retry strategy sees real
    failures instead of enqueue-and-hope. ``tls`` arms the secured
    variant (:class:`MqttTls`).

    ``mqtt_module`` overrides the ``paho.mqtt.client`` import for the
    injected-stub tests; leave None for the real library.
    """
    state: dict[str, Any] = {}

    def _client():
        if "c" in state:
            return state["c"]
        mqtt = (
            mqtt_module
            if mqtt_module is not None
            else _require("paho.mqtt.client", "paho-mqtt")
        )
        import os

        cid = f"{client_id_prefix}-{os.getpid()}"
        # paho-mqtt >= 2.0 requires the callback API version as the
        # first positional argument (Client(client_id=...) raises
        # ValueError there); 1.x has no CallbackAPIVersion attribute.
        # We register no callbacks, so VERSION2 is a pure formality.
        api_version = getattr(mqtt, "CallbackAPIVersion", None)
        if api_version is not None:
            c = mqtt.Client(api_version.VERSION2, client_id=cid)
        else:
            c = mqtt.Client(client_id=cid)
        if username is not None:
            c.username_pw_set(username, password)
        if tls is not None:
            tls.apply(c)
        c.connect(host, port, keepalive)
        c.loop_start()
        state["c"] = c
        return c

    def publish(root: str, topic: str, records: list[dict]) -> None:
        c = _client()
        for rec in records:
            qos = int((rec.get("properties") or {}).get("qos", 1))
            info = c.publish(topic, rec["value"], qos=qos)
            if qos >= 1:
                # wait_for_publish(timeout) returns SILENTLY on timeout
                # and rc only reflects the local enqueue result — an
                # unacknowledged publish leaves rc==0 (ADVICE r11 #2).
                # is_published() is the actual broker-ack signal; an
                # unacked message must raise so the sink retry strategy
                # engages instead of dropping the delivery guarantee.
                info.wait_for_publish(timeout=publish_timeout)
                if info.rc != 0:
                    raise ConnectionError(
                        f"MQTT publish to {topic!r} failed rc={info.rc}"
                    )
                if not info.is_published():
                    raise ConnectionError(
                        f"MQTT publish to {topic!r} not acknowledged by "
                        f"the broker within {publish_timeout}s (QoS {qos})"
                    )

    def close() -> None:
        c = state.pop("c", None)
        if c is not None:
            c.loop_stop()
            c.disconnect()

    publish.close = close  # type: ignore[attr-defined]
    return publish


class MqttStubAPIVersion:
    VERSION1 = "v1"
    VERSION2 = "v2"


class MqttStubMessage:
    def __init__(self, topic, payload, qos, retain=False, dup=False):
        self.topic = topic
        self.payload = payload
        self.qos = qos
        self.retain = retain
        self.dup = dup


class MqttStubClient:
    """In-process paho stand-in with the subscribe-side callback
    surface — the ONE fake the driver-gate row, the unit tests, and any
    stub-tier consumer share, so the contract they exercise cannot
    drift apart (the same single-stub discipline as the other adapter
    families). The real library fires callbacks from its network-loop
    thread; the stub fires on_connect synchronously from connect() /
    simulate_reconnect() and on_message from deliver() — same ordering
    contract (callbacks are assigned before connect), no thread needed.
    ``fault_dir`` arms a fault_injection schedule on subscribe()."""

    def __init__(self, client_id="", clean_session=True, api_version=None,
                 fault_dir=None, subscribe_rcs=None):
        self.client_id = client_id
        self.clean_session = clean_session
        self.api_version = api_version
        self.fault_dir = fault_dir
        # real paho reports most subscribe failures via the returned
        # (rc, mid) tuple without raising; this list (shared with the
        # module) yields one rc per subscribe() call, default success
        self.subscribe_rcs = subscribe_rcs if subscribe_rcs is not None else []
        self.on_connect = None
        self.on_message = None
        self.subscribed: list[list[tuple[str, int]]] = []
        self.connected = None
        self.looping = False
        self.reconnect_delay = None
        self.auth = None

    def username_pw_set(self, u, p):
        self.auth = (u, p)

    def reconnect_delay_set(self, min_delay=1, max_delay=120):
        self.reconnect_delay = (min_delay, max_delay)

    def connect(self, host, port, keepalive):
        self.connected = (host, port, keepalive)
        if self.on_connect is not None:
            self.on_connect(self, None, {}, 0, None)  # v2 signature shape

    def simulate_reconnect(self):
        """What paho's network loop does after connection loss: backoff,
        reconnect, fire on_connect with the session-present flag."""
        self.connected = ("reconnected",)
        if self.on_connect is not None:
            self.on_connect(self, None, {"session present": 1}, 0, None)

    def subscribe(self, topic_qos_pairs):
        if self.fault_dir:
            from hazelcast_jet_contrib_spark.fault_injection import next_fault

            f = next_fault(self.fault_dir, "subscribe")
            if f is not None and f["action"] == "error":
                raise ConnectionError("SUBACK never arrived (injected)")
        if self.subscribe_rcs:
            rc = self.subscribe_rcs.pop(0)
            if rc != 0:
                # MQTT_ERR_NO_CONN shape: no exception, no subscription
                # recorded broker-side, just a non-zero return code
                return (rc, None)
        self.subscribed.append(list(topic_qos_pairs))
        return (0, 1)

    def deliver(self, topic, payload, qos, retain=False, dup=False):
        self.on_message(
            self, None, MqttStubMessage(topic, payload, qos, retain, dup)
        )

    def loop_start(self):
        self.looping = True

    def loop_stop(self):
        self.looping = False

    def disconnect(self):
        self.connected = None


class MqttStubModule:
    CallbackAPIVersion = MqttStubAPIVersion

    def __init__(self, fault_dir=None, subscribe_rcs=None):
        self.clients: list[MqttStubClient] = []
        self.fault_dir = fault_dir
        self.subscribe_rcs = subscribe_rcs

    def Client(self, callback_api_version=None, client_id="", clean_session=True):
        if callback_api_version is None:
            raise ValueError("Unsupported callback API version")  # the 2.x error
        c = MqttStubClient(client_id, clean_session, callback_api_version,
                           fault_dir=self.fault_dir,
                           subscribe_rcs=self.subscribe_rcs)
        self.clients.append(c)
        return c


def mqtt_topic_matches(topic_filter: str, topic: str) -> bool:
    """MQTT topic-filter matching (the broker-side rule the source's
    wildcard subscriptions rely on, MqttSourceBuilder.java:52-60):
    ``+`` matches exactly one level, ``#`` matches the remainder (and
    must be the last level), and — per the MQTT 3.1.1 spec §4.7.2 — a
    filter starting with a wildcard does not match ``$``-prefixed
    system topics."""
    flevels = topic_filter.split("/")
    # structural validation FIRST (not short-circuited by a literal
    # mismatch): '#' may only be the final level, and wildcards must
    # occupy a whole level (MQTT 3.1.1 §4.7.1)
    for i, f in enumerate(flevels):
        if f == "#" and i != len(flevels) - 1:
            raise ValueError(f"'#' must be the last level: {topic_filter!r}")
        if f not in ("+", "#") and ("+" in f or "#" in f):
            raise ValueError(f"wildcard must occupy a whole level: {topic_filter!r}")
    if topic.startswith("$") and topic_filter[:1] in ("+", "#"):
        return False
    tlevels = topic.split("/")
    for i, f in enumerate(flevels):
        if f == "#":
            return True
        if i >= len(tlevels):
            return False
        if f != "+" and f != tlevels[i]:
            return False
    return len(tlevels) == len(flevels)


def mqtt_stream_name(topic: str) -> str:
    """Reversible, filesystem-safe stream-directory name for a concrete
    topic (topics contain ``/``; message-log streams are directories)."""
    from urllib.parse import quote

    return quote(topic, safe="")


def mqtt_topic_of_stream(stream: str) -> str:
    from urllib.parse import unquote

    return unquote(stream)


class PahoSubscribeSource:
    """Live subscribe-side MQTT source: a real Paho client subscribes to
    wildcard topic filters with per-topic QoS and spools arriving
    messages into a message-log directory that Spark then consumes with
    the acked reader — callback → bounded ``SpoolAppender`` → spool →
    ``readStream`` (the SURVEY §7 push-source pattern, same as the
    webhook listener).

    Reference parity (MqttSourceBuilder.java:42-180,
    Subscription.java:85-127, impl/SourceContext.java:58-124):

    - ``subscriptions`` is a list of ``(topic_filter, qos)`` pairs —
      filters may contain ``+``/``#`` wildcards and each carries its own
      QoS 0/1/2, the ``Subscription.of(topic, qualityOfService)``
      surface. All filters subscribe in ONE ``client.subscribe`` call,
      exactly like SourceContext.connectComplete's topics[]/qos[] arrays.
    - Re-subscribe happens inside the (re)connect callback, so a broker
      restart re-establishes every subscription (the autoReconnect
      contract, AbstractMqttSourceTest.java:73-104); paho's network
      loop performs the reconnect itself with
      ``reconnect_delay_set(reconnect_min, reconnect_max)`` backoff.
    - ``keep_session=True`` connects with ``clean_session=False`` so the
      broker keeps subscription state and redelivers unacknowledged
      QoS>=1 messages across disconnects (MqttSources.java:47-52
      keep-session semantics). At-least-once end-to-end: duplicates are
      absorbed downstream by the idempotent-sink discipline, as in the
      reference where Jet replays regardless.
    - The arrival queue is BOUNDED at ``queue_capacity`` (the
      reference's ``ArrayBlockingQueue(CAPACITY=1024)``,
      SourceContext.java:70) and the message callback BLOCKS when it is
      full (``SpoolAppender.put``) — backpressure propagates into
      paho's network thread and from there to the broker's in-flight
      window, the same stall-the-producer shape as the reference. A
      stalled network loop also stalls keepalive pings, so size the
      queue and flusher (it writes every ``flush_seconds`` or at
      ``flush_records`` messages) for the expected burst rate. Paho
      has already PUBACKed QoS>=1 messages, so a failed write is
      retried, and stop() raises if messages are left unspooled.

    Spool records carry the full message surface: ``key`` = concrete
    topic, ``value`` = payload (UTF-8, surrogateescape), ``properties``
    = {qos, retain, dup, topic}, ``event_time`` = arrival epoch millis
    (MQTT 3.1.1 has no producer timestamp — ingestion-time policy,
    SURVEY §2.7). One spool stream per concrete topic
    (:func:`mqtt_stream_name`), so Spark's per-stream partitioning and
    the acked reader's per-topic QoS map apply directly.

    Scale note: one adapter instance is a single MQTT session — the
    parallelism-one half of the reference source. Fan out by running
    one adapter per shared-subscription member ($share/...) or per
    disjoint filter set, each with its own spool root; the Spark side
    reads any number of spool roots in parallel.
    """

    def __init__(
        self,
        host: str,
        spool_root: str,
        subscriptions: list[tuple[str, int]],
        port: int = 1883,
        client_id: str = "sg-source",
        username: str | None = None,
        password: str | None = None,
        tls: MqttTls | None = None,
        keepalive: int = 60,
        keep_session: bool = True,
        queue_capacity: int = 1024,
        flush_records: int = 256,
        flush_seconds: float = 0.25,
        reconnect_min: float = 0.5,
        reconnect_max: float = 30.0,
        mqtt_module: Any | None = None,
    ) -> None:
        if not subscriptions:
            raise ValueError("at least one (topic_filter, qos) subscription")
        for tf, qos in subscriptions:
            if qos not in (0, 1, 2):
                raise ValueError(f"QoS must be 0/1/2, got {qos!r} for {tf!r}")
            # validate the filter eagerly (misplaced '#' raises here,
            # not in the broker's CONNACK/SUBACK path)
            mqtt_topic_matches(tf, "probe")
        self.host, self.port = host, port
        self.spool_root = spool_root
        self.subscriptions = list(subscriptions)
        self.client_id = client_id
        self.username, self.password = username, password
        self.tls, self.keepalive = tls, keepalive
        self.keep_session = keep_session
        self.reconnect_min, self.reconnect_max = reconnect_min, reconnect_max
        self._mqtt_module = mqtt_module
        self.appender = SpoolAppender(
            spool_root,
            lambda rec: mqtt_stream_name(rec["key"]),
            capacity=queue_capacity,
            segment_records=flush_records,
            flush_interval=flush_seconds,
        )
        self._client: Any = None
        self._counters = {"connects": 0, "resubscribes": 0, "subscribe_errors": 0}

    @property
    def stats(self) -> dict:
        """Connects (incl. reconnects), resubscribes, subscribe errors,
        and the spool's: messages received and spooled, failed writes."""
        m = self.appender.metrics()
        return {
            **self._counters,
            "received": m["records_in"],
            "spooled": m["records_written"],
            "spool_errors": m["failed_writes"],
        }

    # -- callbacks (accept both paho 1.x and 2.x signatures) ----------

    def _on_connect(self, client: Any, *args: Any, **kwargs: Any) -> None:
        """(Re)connect → re-subscribe EVERY filter with its QoS in one
        call (SourceContext.connectComplete parity). A failed subscribe
        drops the connection so paho's reconnect backoff retries it —
        the source never sits connected-but-unsubscribed. Real paho
        reports most subscribe failures via the returned ``(rc, mid)``
        tuple WITHOUT raising (e.g. MQTT_ERR_NO_CONN), so a non-zero
        return code is treated exactly like the exception path
        (ADVICE r14 #2)."""
        self._counters["connects"] += 1
        try:
            rc = client.subscribe([(tf, qos) for tf, qos in self.subscriptions])
            # paho returns (rc, mid); rc == 0 (MQTT_ERR_SUCCESS) is the
            # only success. Tolerate clients returning None (older fakes).
            if rc is not None and rc[0] != 0:
                raise ConnectionError(f"subscribe failed rc={rc[0]}")
            self._counters["resubscribes"] += 1
        except Exception:
            self._counters["subscribe_errors"] += 1
            try:
                client.disconnect()  # let the loop's backoff retry
            except Exception:
                pass

    def _on_message(self, client: Any, userdata: Any, msg: Any) -> None:
        import time

        payload = msg.payload
        if isinstance(payload, (bytes, bytearray)):
            payload = bytes(payload).decode("utf-8", "surrogateescape")
        rec = {
            "key": msg.topic,
            "value": payload,
            "properties": {
                "qos": str(int(getattr(msg, "qos", 0))),
                "retain": "1" if getattr(msg, "retain", False) else "0",
                "dup": "1" if getattr(msg, "dup", False) else "0",
                "topic": msg.topic,
            },
            "event_time": int(time.time() * 1000),
        }
        # BLOCKING put — the bounded-queue backpressure contract
        self.appender.put(rec)

    # -- lifecycle ----------------------------------------------------

    def start(self) -> "PahoSubscribeSource":
        mqtt = (
            self._mqtt_module
            if self._mqtt_module is not None
            else _require("paho.mqtt.client", "paho-mqtt")
        )
        api_version = getattr(mqtt, "CallbackAPIVersion", None)
        kwargs = {"client_id": self.client_id, "clean_session": not self.keep_session}
        if api_version is not None:
            c = mqtt.Client(api_version.VERSION2, **kwargs)
        else:
            c = mqtt.Client(**kwargs)
        if self.username is not None:
            c.username_pw_set(self.username, self.password)
        if self.tls is not None:
            self.tls.apply(c)
        c.on_connect = self._on_connect
        c.on_message = self._on_message
        if hasattr(c, "reconnect_delay_set"):
            c.reconnect_delay_set(
                min_delay=self.reconnect_min, max_delay=self.reconnect_max
            )
        self.appender.start()
        try:
            c.connect(self.host, self.port, self.keepalive)
            c.loop_start()
        except Exception:
            # a failed start must not leak the flusher thread OR a live
            # broker session (connect may have succeeded before
            # loop_start failed — with clean_session=False that is a
            # persistent broker-side session): the caller retries
            # start() (the reference restarts the processor on a failed
            # SourceContext connect) and each attempt owns exactly one
            # flusher and at most zero connections
            try:
                c.loop_stop()
                c.disconnect()
            except Exception:
                pass
            self.appender.close()
            raise
        self._client = c
        return self

    def stop(self) -> None:
        c, self._client = self._client, None
        if c is not None:
            try:
                c.loop_stop()
                c.disconnect()
            except Exception:
                pass
        # NEVER a silent drop: the broker has already PUBACKed these
        # (QoS>=1 won't redeliver), so close() raises on an unspoolable
        # remainder
        self.appender.close()

    # -- Spark side ---------------------------------------------------

    @staticmethod
    def _concrete_filter(topic_filter: str) -> str:
        """Strip a shared-subscription prefix for matching: the broker
        delivers on the CONCRETE topic, so ``$share/<group>/house/#``
        must match like ``house/#`` (MQTT 5 §4.8.2 — the fan-out shape
        the class docstring recommends)."""
        if topic_filter.startswith("$share/"):
            parts = topic_filter.split("/", 2)
            if len(parts) == 3:
                return parts[2]
        return topic_filter

    def qos_for_topic(self, topic: str) -> int:
        """Granted QoS for a concrete topic = max over matching filters
        (a broker grants per-subscription; when several overlap it may
        deliver at the highest granted QoS — we classify the stream at
        that ceiling, the conservative at-least-once choice).
        Shared-subscription filters match by their concrete part."""
        granted = [
            q
            for tf, q in self.subscriptions
            if mqtt_topic_matches(self._concrete_filter(tf), topic)
        ]
        if not granted:
            raise ValueError(f"topic {topic!r} matches no subscription filter")
        return max(granted)

    def reader_options(self, subscription: str = "spark") -> dict:
        """Options for the acked message-log reader, ready to splat:
        ``spark.readStream.format("acked_message_log")
        .options(**src.reader_options())`` — the spool root, a
        subscription name, and the per-stream QoS map derived from the
        filters for every topic spooled SO FAR. Topics that first appear
        later fall back to ``qos`` = the MAXIMUM subscribed QoS: a
        too-high default only delays acking to commit time (safe — the
        idempotent-sink discipline absorbs the extra redelivery), while
        a too-low default would ack a QoS>=1 topic's messages at
        delivery and LOSE them on a crash before commit — the silent
        at-most-once downgrade the keep-session contract forbids."""
        import glob as _glob
        import json as _json
        import os

        topic_qos = {}
        for d in sorted(_glob.glob(os.path.join(self.spool_root, "*"))):
            if os.path.isdir(d):
                stream = os.path.basename(d)
                try:
                    topic_qos[stream] = self.qos_for_topic(
                        mqtt_topic_of_stream(stream)
                    )
                except ValueError:
                    continue
        return {
            "path": self.spool_root,
            "subscription": subscription,
            "qos": str(max(q for _, q in self.subscriptions)),
            "topicQos": _json.dumps(topic_qos),
        }


__all__ = [
    "MqttStubClient",
    "MqttStubMessage",
    "MqttStubModule",
    "MqttTls",
    "PahoSubscribeSource",
    "mqtt_stream_name",
    "mqtt_topic_matches",
    "mqtt_topic_of_stream",
    "hash_search_fn",
    "influx_flux_records",
    "influx_long_record_fn",
    "influx_sink",
    "influx_source",
    "mongo_search_fn",
    "mongo_sink",
    "mongo_source",
    "paho_publish_fn",
    "pulsar_producer_sink",
    "pulsar_read_fn",
    "pulsar_reader_source",
    "redis_hash_sink",
    "redis_hash_slices",
    "redis_hash_source",
    "redis_zset_source",
    "zset_search_fn",
]
