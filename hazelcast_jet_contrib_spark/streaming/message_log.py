"""Replayable-offset streaming source, implemented as a PySpark Python
DataSource (DataSourceStreamReader) — the canonical Spark form of the
reference's snapshot/restore offset contract.

Reference contract being re-expressed (SURVEY.md §2.2 S8/S13): the Redis
stream source keeps a per-stream offset map advanced per message and
saves it into the distributed snapshot (RedisSources.java:590,613-654);
the Pulsar reader snapshots a MessageId and seeks to it on restart
(PulsarReaderBuilder.java:177-199). In Spark those duties split cleanly:
the source reports offsets (`initialOffset`/`latestOffset`), the engine
WALs them per micro-batch, and `partitions(start, end)` + `read()`
replay any offset range deterministically — restart-safe exactly-once
for free once the sink is idempotent.

The external system here is a **message log directory**: each stream is
a subdirectory of numbered `.jsonl` segment files (`000000.jsonl`, ...),
append-only — the minimal stand-in for Redis streams / Kafka segments
the test environment can host. Offsets are `{stream_name: next_segment
_index}`. One input partition per stream per batch — the reference's
stream-to-processor round-robin (RedisSources.java:693-756) becomes the
engine's task scheduling.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

#: Full message schema (PulsarSources.java:84-92 parity): alongside the
#: routing key and payload, every message surfaces its properties map
#: and producer-assigned event time (epoch millis; null if the producer
#: set none) so consumers can watermark on eventTime rather than arrival
#: time (SURVEY.md §2.7 timestamp policies).
SCHEMA = (
    "stream string, seq long, key string, value string, "
    "properties map<string,string>, event_time long"
)


@dataclass
class _SegmentRange(InputPartition):
    stream: str
    path: str
    start: int
    end: int


def _segments(stream_dir: str) -> list[int]:
    # Only committed segments are `<digits>.jsonl`; anything else in the
    # directory (`.staged-*` dotfiles from an in-flight epoch, editor
    # droppings) is NOT a segment and must be invisible here — a staged
    # file reaching this parse would crash every concurrent reader while
    # an epoch is staged, turning "uncommitted epochs are invisible"
    # into "consuming reader dies".
    try:
        return sorted(
            int(f[: -len(".jsonl")])
            for f in os.listdir(stream_dir)
            if f.endswith(".jsonl") and f[: -len(".jsonl")].isdigit()
        )
    except FileNotFoundError:
        return []


class MessageLogStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, max_segments_per_trigger: int | None = None):
        self.root = root
        self.max_segments_per_trigger = max_segments_per_trigger
        self._prev_end: dict | None = None

    def _streams(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if os.path.isdir(os.path.join(self.root, d))
        )

    def initialOffset(self) -> dict:
        # start of every stream (the reference's "no snapshot yet" state)
        return {s: 0 for s in self._streams()}

    def latestOffset(self) -> dict:
        # next-segment-to-read per stream; new streams join at 0
        end = {
            s: (max(_segments(os.path.join(self.root, s)), default=-1) + 1)
            for s in self._streams()
        }
        # admission control (the reference's bounded fillBuffer / queue
        # backpressure, SURVEY.md §2.7): after the first batch, advance
        # at most max_segments_per_trigger segments per stream per
        # trigger. The first batch is unclamped because this reader
        # cannot see the WAL's committed start; clamping it could plan
        # an end below a restart's start offset.
        if self.max_segments_per_trigger is not None and self._prev_end is not None:
            end = {
                s: min(e, self._prev_end.get(s, 0) + self.max_segments_per_trigger)
                for s, e in end.items()
            }
        self._prev_end = end
        return end

    def partitions(self, start: dict, end: dict):
        parts = [
            _SegmentRange(
                stream=s,
                path=os.path.join(self.root, s),
                start=start.get(s, 0),
                end=end[s],
            )
            for s in end
            if end[s] > start.get(s, 0)
        ]
        # Spark requires at least one partition even for an empty batch
        return parts or [_SegmentRange(stream="", path="", start=0, end=0)]

    def read(self, partition: _SegmentRange):
        # list-then-filter rather than range-probe: segment numbers may
        # be sparse (the streaming writer below derives them from
        # batchId), and probing every integer in a sparse range is
        # O(gap) wasted stats
        for seq in sorted(
            s for s in _segments(partition.path) if partition.start <= s < partition.end
        ):
            seg = os.path.join(partition.path, f"{seq:06d}.jsonl")
            with open(seg) as f:
                for line in f:
                    rec = json.loads(line)
                    props = rec.get("properties")
                    et = rec.get("event_time")
                    yield (
                        partition.stream,
                        seq,
                        rec.get("key"),
                        rec.get("value"),
                        {str(k): str(v) for k, v in props.items()}
                        if props is not None
                        else None,
                        int(et) if et is not None else None,
                    )

    def commit(self, end: dict) -> None:
        # nothing to acknowledge: the log is immutable and replayable;
        # Spark's WAL owns the committed offset (the reference needs the
        # snapshot for this — SURVEY.md §2.7)
        pass


@dataclass
class _StagedFiles(WriterCommitMessage):
    """Per-task commit message: the staged (invisible) files this task
    wrote, as (stream, staged_path, target_seq) triples."""

    staged: list


class MessageLogStreamWriter(DataSourceStreamWriter):
    """Exactly-once streaming writer for the message log — the sink
    side of the reference's delivery contract as a first-class DSv2
    writer with per-epoch commit/abort, instead of foreachBatch +
    idempotent wrappers (streaming/exactly_once.py).

    Protocol (two-phase, idempotent promotion):
      * ``write()`` (executor, per task) stages rows into an INVISIBLE
        dotfile (`.staged-{runId}-{partitionId}-...staging`) — the
        reader's `_segments` only sees `<digits>.jsonl`, so an
        uncommitted epoch can never be consumed (the analog of an XA
        prepared-but-uncommitted transaction, JdbcXaTest.java:62-97).
        Staged lines are written in sorted (canonical) order so an
        epoch replay whose partition iterates rows in a different
        order still byte-matches the first attempt.
      * the target segment number is DETERMINISTIC:
        ``batchId * 10**6 + partitionId`` — Spark replays a failed
        epoch with the same batchId and the same offset range, so a
        replay re-stages the same content aimed at the same segment.
        partitionId must stay below 10**6 (enforced) or it would alias
        the next batch's segment space; note segment filenames are
        zero-padded to 6 digits but grow wider past batch 0 —
        ``_segments`` sorts numerically, never lexically.
      * ``commit()`` (driver, once per epoch) promotes each staged file
        with os.link — atomic; an EEXIST from a prior partially-
        committed attempt byte-compares and skips, so replaying a
        crash-mid-commit epoch completes it without duplicates. A
        byte-MISMATCH on EEXIST means a foreign producer stole the
        slot and raises (single logical writer per stream, like a
        Kafka partition leader).
      * ``abort()`` unlinks the staged files; the log never saw them.

    Rows route to the stream named by the ``stream`` option, or — if
    absent — by each row's ``stream`` column."""

    def __init__(
        self,
        root: str,
        stream: str | None,
        crash_flag: str | None = None,
        staged_ttl_seconds: float = 3600.0,
    ):
        import uuid

        self.root = root
        self.stream = stream
        # reclamation horizon for FOREIGN-run staged files (see
        # commit()'s second sweep); generous by default — a live
        # writer's staged epoch is seconds old, a hard-killed run's
        # files only ever age
        self.staged_ttl_seconds = float(staged_ttl_seconds)
        # Per-query run id, minted once driver-side and carried to every
        # executor inside the pickled writer: staged names embed it so
        # commit()'s orphan sweep can be scoped to THIS writer's own
        # files — a second query writing the same root (even the same
        # stream) never has its in-flight staged epoch swept by us.
        self.run_id = uuid.uuid4().hex[:12]
        # fault-injection hook for the exactly-once tests: when the flag
        # file exists, commit() raises after promoting exactly ONE
        # staged file — a crash in the middle of the promotion loop, the
        # hardest replay case (mirrors the XA probes' disconnect between
        # prepare and commit, JdbcXaTest.java:62-97). The flag is
        # removed before raising so the restarted query's replay
        # completes. No-op unless the option is set.
        self.crash_flag = crash_flag

    def write(self, iterator) -> _StagedFiles:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # Segment numbers encode (batchId, partitionId) as
        # batchId*10**6 + pid; a pid at or past 10**6 would silently
        # alias the NEXT batch's segment space — surface it as a hard
        # error instead of a spurious foreign-producer failure later.
        if pid >= 10**6:
            raise ValueError(
                f"message_log sink: partitionId {pid} >= 10**6 overflows the "
                "segment-number encoding (batchId*10**6 + partitionId); "
                "coalesce the stream below 1M partitions"
            )
        by_stream: dict[str, list[str]] = {}
        for row in iterator:
            d = row.asDict(recursive=True)
            target = self.stream or d.pop("stream", None)
            if not target:
                raise ValueError(
                    "message_log sink: no 'stream' option and no stream column"
                )
            by_stream.setdefault(str(target), []).append(json.dumps(d))
        staged = []
        for stream, lines in by_stream.items():
            sdir = os.path.join(self.root, stream)
            os.makedirs(sdir, exist_ok=True)
            # batch_id is unknown executor-side; the task-unique staged
            # name carries (pid); commit() learns batchId and computes
            # the target seq. Replayed tasks overwrite their own staged
            # file (same name would need batchId — use pid + attempt-
            # unique suffix and let abort/commit clean up).
            #
            # CANONICAL FORM: lines are sorted before staging. Spark
            # does not guarantee row order within a partition across
            # epoch replays (shuffles/repartitions upstream reorder
            # freely), and _promote()'s idempotent-replay detection is a
            # byte compare — a reordered but semantically identical
            # replay must still byte-match the first attempt, not die
            # with a spurious "foreign producer". Intra-segment order is
            # therefore sorted-JSON order, not arrival order (the `seq`
            # segment number remains the ordering consumers key on).
            path = os.path.join(
                sdir,
                f".staged-{self.run_id}-{pid:04d}-"
                f"{os.getpid()}-{time.monotonic_ns()}.staging",
            )
            with open(path, "w") as f:
                f.write("\n".join(sorted(lines)) + "\n")
            staged.append((stream, path, pid))
        return _StagedFiles(staged=staged)

    def _promote(self, stream: str, staged_path: str, seq: int) -> None:
        seg = os.path.join(self.root, stream, f"{seq:06d}.jsonl")
        try:
            os.link(staged_path, seg)
        except FileExistsError:
            with open(staged_path, "rb") as a, open(seg, "rb") as b:
                if a.read() != b.read():
                    raise RuntimeError(
                        f"message_log sink: segment {seg} exists with different "
                        "content — foreign producer on a sink-owned stream"
                    ) from None
            # identical bytes: a prior attempt of this epoch already
            # promoted this partition — idempotent replay, nothing to do

    def commit(self, messages, batchId: int) -> None:
        touched: set[str] = set()
        promoted = 0
        for msg in messages:
            if msg is None:
                continue
            for stream, staged_path, pid in msg.staged:
                touched.add(stream)
                seq = batchId * 10**6 + pid
                if os.path.exists(staged_path):
                    self._promote(stream, staged_path, seq)
                    os.unlink(staged_path)
                    promoted += 1
                    if (
                        promoted == 1
                        and self.crash_flag
                        and os.path.exists(self.crash_flag)
                    ):
                        os.unlink(self.crash_flag)
                        raise RuntimeError(
                            "injected crash mid-commit (one file promoted)"
                        )
                else:
                    # Staged file gone. Exactly two legitimate causes:
                    # (a) idempotent replay — a prior attempt of THIS
                    #     epoch already promoted+unlinked it, so the
                    #     target segment exists; or
                    # (b) loss — e.g. another run's TTL sweep reclaimed
                    #     a live-but-stalled epoch's staged file
                    #     (trigger stalled past staged_ttl_seconds,
                    #     mtime/clock skew on a shared FS). Silently
                    #     skipping here would drop the epoch's data with
                    #     no error (ADVICE r07); the segment's absence
                    #     is the discriminator — raise so the engine
                    #     retries the epoch and the data is re-staged.
                    seg = os.path.join(self.root, stream, f"{seq:06d}.jsonl")
                    if not os.path.exists(seg):
                        raise RuntimeError(
                            f"message_log sink: staged file {staged_path} for "
                            f"segment {seg} disappeared before promotion and "
                            "the segment does not exist — staged epoch was "
                            "reclaimed externally (TTL sweep of a stalled "
                            "writer, or manual cleanup). Failing the epoch so "
                            "the engine replays it instead of losing data."
                        )
        # sweep staged orphans from prior crashed attempts of THIS
        # writer only — staged names embed self.run_id, so a concurrent
        # query writing the same root (even the same stream) keeps its
        # in-flight staged epoch; within one run, epochs are serialized
        # by the engine, so any surviving `.staged-{run_id}-` file
        # belongs to a dead attempt of an already-committed epoch.
        # Foreign-run staged files are swept only past a TTL (ADVICE
        # r06): a run that died HARD (process kill — abort() never ran,
        # and the restarted query mints a new run_id) leaves staged
        # files no run-id-scoped sweep will ever reclaim. Age is the
        # discriminator: a concurrently-LIVE writer's staged epoch is
        # seconds old (epochs are bounded by the trigger interval),
        # while a dead run's files only ever age — so a generous TTL
        # reclaims leaks without racing live writers.
        own_prefix = f".staged-{self.run_id}-"
        now = time.time()
        for stream in touched:
            sdir = os.path.join(self.root, stream)
            for f in os.listdir(sdir):
                if not f.startswith(".staged-"):
                    continue
                path = os.path.join(sdir, f)
                try:
                    if not f.startswith(own_prefix):
                        if now - os.path.getmtime(path) < self.staged_ttl_seconds:
                            continue  # possibly a live concurrent writer
                    os.unlink(path)
                except FileNotFoundError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        for msg in messages:
            if msg is None:
                continue
            for _stream, staged_path, _pid in msg.staged:
                if os.path.exists(staged_path):
                    os.unlink(staged_path)


class MessageLogDataSource(DataSource):
    """`spark.readStream.format("message_log").option("path", root)` /
    `df.writeStream.format("message_log").option("path", root)`.

    Reader options: `path` (required); `maxSegmentsPerTrigger` —
    admission control, the analog of maxOffsetsPerTrigger / the
    reference's bounded per-fill batches (InfluxDbSources.java:234-238).
    Writer options: `path` (required); `stream` (target stream name;
    omit to route by each row's `stream` column); `stagedTtlSeconds`
    (age past which FOREIGN-run staged orphans are reclaimed at
    commit; default 3600).

    Register once per session:
        spark.dataSource.register(MessageLogDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "message_log"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> MessageLogStreamReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("message_log source requires option 'path'")
        max_seg = self.options.get("maxSegmentsPerTrigger")
        return MessageLogStreamReader(
            path, int(max_seg) if max_seg is not None else None
        )

    def streamWriter(self, schema, overwrite: bool) -> MessageLogStreamWriter:
        path = self.options.get("path")
        if not path:
            raise ValueError("message_log sink requires option 'path'")
        ttl = self.options.get("stagedttlseconds")
        return MessageLogStreamWriter(
            path,
            self.options.get("stream"),
            self.options.get("injectcrashflag"),
            staged_ttl_seconds=float(ttl) if ttl is not None else 3600.0,
        )


def register(spark) -> None:
    spark.dataSource.register(MessageLogDataSource)


def append_segment(
    root: str,
    stream: str,
    records: list[dict],
    seq: int | None = None,
    seq_hint: int | None = None,
) -> int:
    """Producer helper (used by tests, sinks, and the webhook spool):
    append one segment file atomically; returns its sequence number.

    Safe under concurrent producers (e.g. every partition of a
    stream_sink writing at once): the next free sequence number is
    claimed with os.link, which atomically fails if another producer won
    the slot — then we re-scan and retry.

    ``seq_hint`` lets a SOLE producer (a ``SpoolAppender``, which
    serializes its own appends) skip the per-append
    directory scan: the hint (its last committed seq + 1) is tried
    first, and any collision — another producer slipped in — falls back
    to the scan-and-retry loop, so correctness never depends on the
    hint. Without it the scan is O(n_segments) per append (r18
    measurement: the ~500-segment webhook spool spent ~40% of its
    protocol wall in append_segment, growing with segment count)."""
    sdir = os.path.join(root, stream)
    os.makedirs(sdir, exist_ok=True)
    tmp = os.path.join(sdir, f".seg-{os.getpid()}-{time.monotonic_ns()}.tmp")
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    try:
        if seq is not None:
            os.replace(tmp, os.path.join(sdir, f"{seq:06d}.jsonl"))
            tmp = None
            return seq
        while True:
            if seq_hint is not None:
                seq, seq_hint = seq_hint, None  # trust once, then re-scan
            else:
                seq = max(_segments(sdir), default=-1) + 1
            try:
                os.link(tmp, os.path.join(sdir, f"{seq:06d}.jsonl"))
                return seq
            except FileExistsError:
                continue
    finally:
        if tmp is not None and os.path.exists(tmp):
            os.unlink(tmp)


class _Verdict:
    """One ``append`` call's records not yet settled, and the error of
    the write that failed any of them."""

    __slots__ = ("pending", "error")

    def __init__(self, pending: int):
        self.pending = pending
        self.error: Exception | None = None


class SpoolAppender:
    """The write side of every push source's spool (SURVEY.md §7 risk 3:
    bounded queue → durable spool → ``message_log`` stream), so each
    source keeps only its transport. The sink loop's rule applies: the
    appender owns the buffer and a record leaves it only once written.

    * ``put(rec)``: the appender owns the record; a failed write keeps
      it for the next write. At ``capacity`` unwritten records ``put``
      blocks until the flusher makes room (``flush_interval`` set), or
      the caller pays the flush inline and a failed flush raises, the
      record not accepted.
    * ``append(recs)``: buffer ``recs`` (no capacity wait: the caller
      waits for their write anyway), then wait for the verdict of the
      write covering them (the durable ack). Appends GROUP-COMMIT: the
      caller that finds no write in progress leads and writes everything
      buffered on its own thread while the others wait. A failed write
      raises in EVERY append caller it covered and hands their records
      back to them, so no caller is acknowledged for an unwritten record.

    One write routine serves both: a claimed batch (at most
    ``segment_records``) becomes one segment per stream (``route(rec)``;
    ``encode(rec)`` is the line written); after a partial failure only
    the streams not yet written are retried, so a retry adds no
    duplicates. ``after_durable(recs)`` runs with a batch, in put order,
    once all of it is written. As the sole writer of its streams the
    appender passes a ``seq_hint`` per stream (a collision falls back to
    the scan). ``append_segment`` is resolved through this module, so a
    patched ``message_log.append_segment`` sees every write.

    ``start()`` runs a flusher thread that writes at ``segment_records``
    buffered or every ``flush_interval``; a failed write is counted,
    backed off and retried. ``close()`` drains (three failed attempts
    give up) and raises if any record is unwritten."""

    def __init__(
        self,
        root: str,
        route,
        *,
        encode=None,
        capacity: int | None = None,
        segment_records: int | None = None,
        flush_interval: float | None = None,
        after_durable=None,
    ):
        self.root = root
        self.route = route
        self.encode = encode
        self.capacity = capacity
        self.segment_records = segment_records
        self.flush_interval = flush_interval
        self.after_durable = after_durable
        self.last_error: Exception | None = None
        self._cv = threading.Condition()
        self._closed = threading.Event()
        # (record, verdict) pairs not yet claimed by a write; the
        # verdict is None for a put record, which the appender owns
        self._buf: list[tuple] = []
        # (put records, streams already written) of failed batches,
        # claimed ahead of the buffer by the next write
        self._held: list[tuple[list, set]] = []
        self._unwritten = 0
        self._writing = False
        self._seq_hint: dict[str, int] = {}
        self._counts = dict.fromkeys(
            ("records_in", "records_written", "segments", "failed_writes", "retries"), 0
        )
        # the buffer size that wakes the flusher before its interval
        self._wake_at = min(n for n in (segment_records, capacity, float("inf")) if n)
        self._flusher = None

    def metrics(self) -> dict:
        """The spool counters; ``buffered`` = accepted, not yet written."""
        with self._cv:
            return {**self._counts, "buffered": self._unwritten}

    def _accept(self, recs, verdict) -> None:
        if self._closed.is_set():
            raise RuntimeError(f"spool appender for {self.root} is closed")
        self._buf.extend((r, verdict) for r in recs)
        self._unwritten += len(recs)
        self._counts["records_in"] += len(recs)
        if self._flusher is not None and len(self._buf) >= self._wake_at:
            self._cv.notify_all()

    def put(self, rec) -> None:
        while True:
            with self._cv:
                if self.capacity is None or self._unwritten < self.capacity:
                    self._accept((rec,), None)
                    return
                if self.flush_interval is not None:
                    self._cv.wait()  # the flusher makes room
                    continue
            self.flush()  # no flusher: the caller pays; raises on failure

    def append(self, recs: list) -> None:
        if not recs:
            return
        verdict = _Verdict(len(recs))
        with self._cv:
            self._accept(recs, verdict)
        while True:
            with self._cv:
                while self._writing and verdict.pending:
                    self._cv.wait()
                if not verdict.pending:
                    break
                parts = self._claim()
            self._write(parts)
        if verdict.error is not None:
            raise verdict.error

    def flush(self) -> int:
        """Write everything buffered on this thread (after any write in
        progress); returns the records written. Raises a failed write's
        error, with its put records still buffered."""
        written = 0
        while True:
            with self._cv:
                while self._writing:
                    self._cv.wait()
                if not (self._buf or self._held):
                    return written
                parts = self._claim()
            n, err = self._write(parts)
            written += n
            if err is not None:
                raise err

    def _claim(self) -> list[tuple[list, set]]:
        # lock held: the held batches, then the buffer's next batch;
        # one writer at a time keeps segment order = claim order
        parts, self._held = self._held, []
        self._counts["retries"] += len(parts)
        if self._buf:
            n = self.segment_records or len(self._buf)
            parts.append((self._buf[:n], set()))
            del self._buf[:n]
        self._writing = True
        return parts

    def _write(self, parts: list[tuple[list, set]]) -> tuple[int, Exception | None]:
        """The one write routine: each part as one segment per stream not
        yet written, then ``after_durable``. Stops at the first failure;
        the failed and unattempted parts keep their put records (and
        the streams already written) for the next claim, and every
        append caller they covered gets the error."""
        written, segments, ok, err = 0, 0, 0, None
        for entries, done in parts:
            by_stream: dict[str, list] = {}
            for e in entries:
                by_stream.setdefault(self.route(e[0]), []).append(e)
            try:
                for stream, es in by_stream.items():
                    if stream in done:
                        continue
                    recs = [r for r, _ in es]
                    seq = append_segment(
                        self.root, stream,
                        [self.encode(r) for r in recs] if self.encode else recs,
                        seq_hint=self._seq_hint.get(stream),
                    )
                    self._seq_hint[stream] = seq + 1
                    done.add(stream)
                    written += len(es)
                    segments += 1
                if self.after_durable is not None:
                    self.after_durable([r for r, _ in entries])
            except Exception as ex:
                err = ex
                break
            ok += 1
        with self._cv:
            self._writing = False
            c = self._counts
            c["records_written"] += written
            c["segments"] += segments
            self._unwritten -= written
            for entries, done in parts[ok:]:
                owned = [e for e in entries if e[1] is None]
                if owned:
                    self._held.append((owned, done))
                for r, v in entries:
                    if v is not None:
                        v.error = err
                        if self.route(r) not in done:
                            self._unwritten -= 1  # handed back to the caller
            for entries, _ in parts:
                for _, v in entries:
                    if v is not None:
                        v.pending -= 1
            if err is not None:
                c["failed_writes"] += 1
                self.last_error = err
            self._cv.notify_all()
        return written, err

    def start(self) -> "SpoolAppender":
        if self.flush_interval is None:
            raise ValueError("a flusher thread needs flush_interval")
        self._closed.clear()
        self._flusher = threading.Thread(
            target=self._flush_loop, name=f"spool-flusher-{self.root}", daemon=True
        )
        self._flusher.start()
        return self

    def _flush_loop(self) -> None:
        while not self._closed.is_set():
            with self._cv:
                self._cv.wait_for(
                    lambda: self._closed.is_set() or len(self._buf) >= self._wake_at,
                    self.flush_interval,
                )
            if self._closed.is_set():
                return
            try:
                self.flush()
            except Exception:
                # counted by the write routine; back off, bounded so a
                # recovered spool is picked up within a second
                self._closed.wait(min(1.0, self.flush_interval * 4))

    def close(self) -> None:
        with self._cv:
            self._closed.set()
            self._cv.notify_all()
        if self._flusher is not None:
            self._flusher.join(timeout=60)
            self._flusher = None
        for _ in range(3):
            with contextlib.suppress(Exception):
                self.flush()
                break
        with self._cv:
            left = self._unwritten
        if left:
            # never a silent drop: a push source has already acknowledged
            # these records to its producer
            raise RuntimeError(
                f"spool appender for {self.root} closed with {left} unspooled "
                f"records (failed_writes={self._counts['failed_writes']})"
            ) from self.last_error


def compact_stream(root: str, stream: str) -> dict:
    """Log compaction (the Kafka compacted-topic contract, and the
    store-side twin of the Redis hash sink's last-write-wins bulk load,
    RedisSinks.java:64-151): for every key keep only its LATEST record;
    a full replay of the compacted log reaches exactly the same
    final key->value state as a replay of the uncompacted one.

    Offset stability: each surviving record stays in its ORIGINAL
    segment (same seq), superseded records are simply dropped when the
    segment is rewritten, and a fully-superseded segment becomes an
    EMPTY file rather than disappearing — reader offsets (segment
    seqs) stay monotone and dense exactly as before, so a checkpointed
    reader restarted mid-log never sees an offset move.

    Safety:
      * atomic per segment (tmp + os.replace) — a crash mid-compaction
        leaves some segments compacted and some not, which is a valid
        state; re-running finishes the job (idempotent).
      * concurrent producers are untouched: only segments at or below
        the high-water mark snapshotted at entry are scanned OR
        rewritten; records appended after the snapshot can themselves
        supersede old keys — that dirty tail compacts on the NEXT run
        (Kafka's dirty-region model).
      * keyless records are never compactable and always survive.

    Driver-side maintenance utility by design (the log is a single-FS
    store; compaction is I/O-bound file rewriting, not a dataflow).
    Returns {"segments", "records_before", "records_after",
    "dropped"}.
    """
    sdir = os.path.join(root, stream)
    seqs = _segments(sdir)  # high-water mark snapshot: new appends ignored
    # pass 1: last occurrence of every key across (seq, line-index)
    last: dict[str, tuple[int, int]] = {}
    before = 0
    for seq in seqs:
        with open(os.path.join(sdir, f"{seq:06d}.jsonl")) as f:
            for i, line in enumerate(f):
                before += 1
                key = json.loads(line).get("key")
                if key is not None:
                    last[str(key)] = (seq, i)
    # pass 2: rewrite each segment keeping keyless records and each
    # key's final occurrence
    after = 0
    for seq in seqs:
        path = os.path.join(sdir, f"{seq:06d}.jsonl")
        keep: list[str] = []
        dirty = False
        with open(path) as f:
            for i, line in enumerate(f):
                key = json.loads(line).get("key")
                if key is None or last[str(key)] == (seq, i):
                    keep.append(line)
                else:
                    dirty = True
        after += len(keep)
        if dirty:
            tmp = f"{path}.compact-{os.getpid()}-{time.monotonic_ns()}.tmp"
            with open(tmp, "w") as f:
                f.writelines(keep)
            os.replace(tmp, path)
    return {
        "segments": len(seqs),
        "records_before": before,
        "records_after": after,
        "dropped": before - after,
    }
