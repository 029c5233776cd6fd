"""Exactly-once sink discipline for foreachBatch writers.

Spark replays the last uncommitted micro-batch after failure, so a
foreachBatch sink is at-least-once by default. The reference closes this
gap with XA two-phase transactions (xa-test/, SURVEY.md §2.7); Spark has
no 2PC sink protocol, so the equivalent discipline is **idempotent
delivery keyed on (epoch_id)**: skip a batch whose epoch was already
committed, or upsert on a row key so replays overwrite instead of
duplicate.

:class:`EpochCommitLog` is the one commit record behind every
exactly-once state directory in the package: the wrapper below, the CDC
apply (cdc.py), the streaming near-dup index (dedup_index.py), the
batch MinHash index (operators/dedup.py build/append/compact/probe) and
streaming PageRank (graph.py).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

_CURRENT = "_CURRENT"
_COMPACTED = "_COMPACTED"


class EpochCommitLog:
    """The epoch-commit record of one state directory.

    Layout under ``state_dir``:

    - ``_CURRENT`` holds the last committed epoch. A writer commits an
      epoch by atomically replacing it (tmp + ``os.replace``) AFTER the
      epoch's data is written, so directories above the marker are
      invisible crash leftovers that the replay rewrites.
    - ``<kind>/e{N}/`` is epoch N's directory of one kind of data.
    - ``_COMPACTED`` holds ``floor gen``: the epochs <= floor of every
      kind compacted into ``compacted/g{gen}/<kind>/`` are read from
      there, so readers see that generation plus the epochs in
      (floor, committed]. New compactions name the generation after
      its floor; the record keeps both numbers because the near-dup
      index once numbered generations 0, 1, 2, ... and its state
      directories still read.

    State is never reinterpreted: a marker that does not parse, or
    entries a writer recognizes as its former layout
    (:meth:`refuse_former`), raise instead of being read as an empty
    state directory, which would silently drop every committed epoch.

    Marker and listing I/O is driver-local file I/O, so a URI is
    refused: a literal ``s3a:/...`` directory would silently split the
    state between file systems.
    """

    def __init__(self, state_dir: str, owner: str) -> None:
        if "://" in state_dir or state_dir.startswith("file:"):
            raise ValueError(
                f"{owner}: state_dir must be a driver-local path, not "
                f"{state_dir!r} (the commit marker and epoch listing use "
                "local file I/O)"
            )
        self.state_dir = state_dir
        self._owner = owner
        self.committed()  # a record that does not parse fails here, up front
        self.compaction()

    def _read(self, name: str, n: int) -> list[int] | None:
        path = os.path.join(self.state_dir, name)
        try:
            with open(path) as f:
                text = f.read()
        except FileNotFoundError:
            return None
        values = text.split()
        if len(values) != n or not all(v.isdigit() for v in values):
            raise RuntimeError(
                f"{self._owner}: commit record {path!r} holds {text!r}, not "
                f"{n} epoch number(s): it is corrupt or in a former layout. "
                "Refusing to read the state directory as empty."
            )
        return [int(v) for v in values]

    def _replace(self, name: str, *values: int) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        path = os.path.join(self.state_dir, name)
        with open(path + ".tmp", "w") as f:
            f.write(" ".join(map(str, values)))
        os.replace(path + ".tmp", path)

    def refuse_former(self, subdir: str, pattern: str, now: str) -> None:
        """Raise if ``state_dir/subdir`` holds entries whose names fully
        match the regex ``pattern``: the epoch naming of a layout the
        caller wrote before this record, which it now names ``now``.
        Read through this record, such a directory would look empty."""
        d = os.path.join(self.state_dir, subdir)
        try:
            old = sorted(e for e in os.listdir(d) if re.fullmatch(pattern, e))
        except FileNotFoundError:
            return
        if old:
            raise RuntimeError(
                f"{self._owner}: {d!r} holds {old[:3]} in a former on-disk "
                f"layout (now {now}); convert it or use a new state "
                "directory. Refusing to read the state directory as empty."
            )

    # -- the epoch marker ---------------------------------------------------
    def committed(self) -> int | None:
        """The last committed epoch, or None before the first."""
        v = self._read(_CURRENT, 1)
        return None if v is None else v[0]

    def begin(self, epoch_id: int) -> bool:
        """Whether ``epoch_id`` still has to be applied. A replay of the
        committed epoch (Spark's recovery path) is a no-op: False.
        Recovery replays at most the last uncommitted epoch, so an epoch
        BELOW the marker means the query restarted with a fresh
        checkpoint (epoch ids restart at 0) against existing state;
        skipping it would lose the batch, so it raises."""
        committed = self.committed()
        if committed is None or epoch_id > committed:
            return True
        if epoch_id == committed:
            return False
        raise RuntimeError(
            f"{self._owner}: epoch {epoch_id} rewinds behind committed epoch "
            f"{committed} in {self.state_dir!r} — the streaming query "
            "restarted with a fresh checkpoint against existing state. "
            "Resume with the original checkpointLocation, or use a new "
            "state directory."
        )

    def commit(self, epoch_id: int) -> None:
        """Atomically move the marker to ``epoch_id``."""
        self._replace(_CURRENT, epoch_id)

    # -- epoch directories --------------------------------------------------
    def epoch_dir(self, kind: str, epoch_id: int) -> str:
        return os.path.join(self.state_dir, kind, f"e{epoch_id}")

    def generation_dir(self, kind: str, gen: int) -> str:
        return os.path.join(self.state_dir, "compacted", f"g{gen}", kind)

    def _listing(self, kind: str) -> list[tuple[int, str]]:
        """Every (epoch, dir) of ``kind`` on disk, committed or not."""
        root = os.path.join(self.state_dir, kind)
        try:
            names = os.listdir(root)
        except FileNotFoundError:
            return []
        return sorted(
            (int(d[1:]), os.path.join(root, d))
            for d in names
            if d.startswith("e") and d[1:].isdigit()
        )

    def epoch_dirs(self, kind: str, up_to: int | None = None) -> list[str]:
        """The committed directories of ``kind``, oldest first: its
        compacted generation (if any) plus the epochs in (floor, up_to].
        ``up_to`` defaults to the marker; :meth:`compact` passes its
        captured snapshot so every kind sees the same epoch set even if
        a batch commits meanwhile."""
        if up_to is None:
            up_to = self.committed()
            if up_to is None:
                return []
        dirs: list[str] = []
        floor = -1
        comp = self.compaction()
        if comp is not None and os.path.isdir(self.generation_dir(kind, comp[1])):
            floor = comp[0]
            dirs.append(self.generation_dir(kind, comp[1]))
        return dirs + [d for n, d in self._listing(kind) if floor < n <= up_to]

    def prune(self, kind: str, keep: int) -> None:
        """Delete all but the newest ``keep`` committed epoch dirs of
        ``kind`` (a kind that is never compacted)."""
        committed = self.committed()
        if committed is None:
            return
        done = [d for n, d in self._listing(kind) if n <= committed]
        for d in done[:-keep]:
            shutil.rmtree(d, ignore_errors=True)

    # -- generation compaction ----------------------------------------------
    def compaction(self) -> tuple[int, int] | None:
        """(floor, generation) of the live compacted snapshot, or None."""
        v = self._read(_COMPACTED, 2)
        return None if v is None else (v[0], v[1])

    def compact(
        self, kinds: tuple[str, ...], write: Callable[[str, list[str], str], None]
    ) -> bool:
        """Fold every committed epoch of ``kinds`` into one generation.
        ``write(kind, dirs, out)`` rewrites the committed directories
        ``dirs`` into the new generation directory ``out``. Returns
        False when nothing was committed since the last compaction.

        The epoch set is captured once, so all kinds read the same
        snapshot (re-reading the marker per kind would bake a later
        epoch into the generation while the recorded floor stays below
        it: duplicate rows forever after). The generation is named after
        that snapshot, so it never overwrites the one readers use; a
        crash before the ``_COMPACTED`` swap leaves it unreferenced and
        invisible. The superseded epoch dirs and generations are deleted
        after the swap, best-effort and on every call, so a crash there
        is finished by the next run."""
        snap = self.committed()
        comp = self.compaction()
        fresh = snap is not None and (comp is None or comp[0] < snap)
        if fresh:
            for kind in kinds:
                dirs = self.epoch_dirs(kind, up_to=snap)
                if dirs:
                    write(kind, dirs, self.generation_dir(kind, snap))
            comp = (snap, snap)
            self._replace(_COMPACTED, *comp)
        if comp is None:
            return False
        floor, gen = comp
        for kind in kinds:
            for n, d in self._listing(kind):
                if n <= floor:
                    shutil.rmtree(d, ignore_errors=True)
        croot = os.path.join(self.state_dir, "compacted")
        for d in os.listdir(croot) if os.path.isdir(croot) else ():
            if d != f"g{gen}":
                shutil.rmtree(os.path.join(croot, d), ignore_errors=True)
        return fresh


def idempotent_foreach_batch(
    write_fn: Callable[[DataFrame, int], None],
    commit_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch writer with the epoch commit record in
    ``commit_dir``: a replayed committed epoch is skipped, an epoch
    below the marker raises; a crash between write and marker replays
    the write, which ``write_fn`` must tolerate by overwriting (e.g.
    write files named by epoch, upsert by key). This is the Spark
    analog of the prepared-transaction recovery the XA probes verify
    (JdbcXaTest.java:28-33). A ``commit_dir`` of per-epoch ``epoch-N``
    files, the wrapper's former record, is refused."""
    log = EpochCommitLog(commit_dir, "idempotent_foreach_batch")
    log.refuse_former("", r"epoch-\d+", f"one {_CURRENT} file holding the highest N")

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        if log.begin(epoch_id):
            write_fn(batch_df, epoch_id)
            log.commit(epoch_id)

    return fn


def epoch_keyed_parquet_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once parquet append: each epoch writes to its own
    subdirectory (overwrite mode), so replaying an epoch overwrites the
    same files instead of duplicating rows."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={epoch_id}"))

    return fn
