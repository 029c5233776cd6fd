"""Buffered/flushing/retrying sink builder.

Reference contract: sinks accumulate received items and push them in
batches on flush — `RedisSinks.java:145-151` (receive into HashMap,
flush via async HMSET), `MongoDBSinkBuilder.java:169-183` (buffer then
`insertMany`), with bounded retry + backoff between attempts
(`MqttSinkBuilder.java:66-91`, `mqtt/.../SinkContext.java:61-87`) and a
per-writer identity suffix (`SinkContext.java:98-104` appends the global
processor index; here `TaskContext.partitionId()`).

Spark-first re-expression: a batch write is `df.foreachPartition` with a
per-partition client; a streaming write is `writeStream.foreachBatch`
feeding the same partition writer, which makes delivery *at-least-once*
on replay — pair with an idempotent/keyed flush for exactly-once (the
discipline the reference needs XA for; SURVEY.md §2.7).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark import TaskContext
from pyspark.sql import DataFrame


@dataclass(frozen=True)
class RetryStrategy:
    """Bounded retry with pluggable backoff (parity with the reference's
    RetryStrategies/IntervalFunction: maxAttempts + sleep between
    publishes, MqttSinkBuilder.java:66-91).

    `interval_fn(attempt)` returns the sleep in seconds before retry
    `attempt` (1-based). `never()` fails fast; `exponential()` doubles.
    """

    max_attempts: int = 3
    interval_fn: Callable[[int], float] = lambda attempt: 0.1

    @staticmethod
    def never() -> "RetryStrategy":
        return RetryStrategy(max_attempts=1, interval_fn=lambda _: 0.0)

    @staticmethod
    def constant(max_attempts: int, interval_sec: float) -> "RetryStrategy":
        return RetryStrategy(max_attempts, lambda _: interval_sec)

    @staticmethod
    def exponential(max_attempts: int, base_sec: float = 0.1) -> "RetryStrategy":
        return RetryStrategy(max_attempts, lambda a: base_sec * (2 ** (a - 1)))

    def run(self, fn: Callable[[], Any]) -> Any:
        last: Exception | None = None
        for attempt in range(1, self.max_attempts + 1):
            try:
                return fn()
            except Exception as ex:  # noqa: BLE001 — writer decides retriability
                last = ex
                if attempt < self.max_attempts:
                    time.sleep(max(0.0, self.interval_fn(attempt)))
        raise last  # type: ignore[misc]


# Default for the sinks that push to a broker or store client: a
# transient connection error is retried twice, 50 ms apart.
CLIENT_RETRY = RetryStrategy.constant(3, 0.05)


@dataclass
class SinkBuilder:
    """Fluent builder for a buffered partition writer.

    Lifecycle per partition (mirrors SinkBuilder create/receive/flush/
    destroy): ``ctx = create_fn(writer_id)``; each row is mapped by
    ``receive_fn(row)`` to an item and appended to the batch, which the
    builder owns; ``flush_fn(ctx, items)`` pushes the batch every
    `batch_size` items and at partition end, under the retry strategy;
    ``destroy_fn(ctx)`` runs in a finally block, also when a flush
    failed for good.

    The batch is cleared only after ``flush_fn`` returns, so a retried
    flush re-sends the identical batch. A flush never owns or clears a
    buffer of its own: that is what keeps replay at-least-once.
    """

    name: str
    _create_fn: Callable[[str], Any] | None = None
    _receive_fn: Callable[[Any], Any] | None = None
    _flush_fn: Callable[[Any, list], None] | None = None
    _destroy_fn: Callable[[Any], None] | None = None
    _batch_size: int = 1024
    _retry: RetryStrategy = RetryStrategy.never()

    def create_fn(self, fn: Callable[[str], Any]) -> "SinkBuilder":
        """Context factory; receives a stable writer id
        '<name>-<partitionId>' (reference: clientId + global processor
        index, SinkContext.java:98-104)."""
        self._create_fn = fn
        return self

    def receive_fn(self, fn: Callable[[Any], Any]) -> "SinkBuilder":
        """Pure ``row -> item`` mapping."""
        self._receive_fn = fn
        return self

    def flush_fn(self, fn: Callable[[Any, list], None]) -> "SinkBuilder":
        """``flush_fn(ctx, items)`` pushes one non-empty batch."""
        self._flush_fn = fn
        return self

    def destroy_fn(self, fn: Callable[[Any], None]) -> "SinkBuilder":
        self._destroy_fn = fn
        return self

    def batch_size(self, n: int) -> "SinkBuilder":
        self._batch_size = int(n)
        return self

    def retry(self, strategy: RetryStrategy) -> "SinkBuilder":
        self._retry = strategy
        return self

    # ------------------------------------------------------------------
    def _partition_writer(self) -> Callable[[Any], None]:
        create_fn, receive_fn = self._create_fn, self._receive_fn
        flush_fn, destroy_fn = self._flush_fn, self._destroy_fn
        batch_size, retry, name = self._batch_size, self._retry, self.name
        if receive_fn is None or flush_fn is None:
            raise ValueError(f"sink '{name}': receive_fn and flush_fn are required")

        def write_partition(rows) -> None:
            tc = TaskContext.get()
            writer_id = f"{name}-{tc.partitionId() if tc else 0}"
            ctx = create_fn(writer_id) if create_fn else None
            batch: list = []
            try:
                for row in rows:
                    batch.append(receive_fn(row))
                    if len(batch) >= batch_size:
                        retry.run(lambda: flush_fn(ctx, batch))
                        batch = []
                if batch:
                    retry.run(lambda: flush_fn(ctx, batch))
            finally:
                if destroy_fn is not None:
                    destroy_fn(ctx)

        return write_partition

    def write(self, df: DataFrame) -> None:
        """Bounded write: every partition runs the buffered writer."""
        df.foreachPartition(self._partition_writer())

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        """Adapter for ``writeStream.foreachBatch(...)``. Delivery is
        at-least-once under replay; make flush idempotent on a row key
        (and/or use the epoch_id) for exactly-once."""
        writer = self._partition_writer()

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.foreachPartition(writer)

        return fn
