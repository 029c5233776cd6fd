"""Spans for the traced run, recorded from the benchmark's side.

The program is not instrumented. Instead, ``Tracer.patch()`` wraps every
public function of the layer modules (``LAYERS``) and rebinds each name
that refers to it: the module attribute, which also catches queries that
import their operators inside the function body, and every alias a
package module bound at import time (``from ..registry import table``).
A span is (name, start, end, parent, query id), kept in memory; self
time is a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from hazelcast_jet_contrib_spark.streaming.message_log import (
    MessageLogDataSource,
    MessageLogStreamWriter,
)

PKG = "hazelcast_jet_contrib_spark"

#: layer name -> module whose public functions are wrapped
LAYERS = {
    "registry": f"{PKG}.registry",
    "cache": f"{PKG}.cache",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.graph": f"{PKG}.operators.graph",
    "operators.clustering": f"{PKG}.operators.clustering",
    "message_log": f"{PKG}.streaming.message_log",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    qid: str | None
    thread: int
    jobs: int = 0  # Spark jobs the span launched (probed spans only)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.qid: str | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        # spans named here also record how many Spark jobs ran inside
        # them; ``job_probe`` returns the job count of the current group
        self.probed: set[str] = set()
        self.job_probe = None

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        t = time.monotonic()
        st = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, 0.0, 0.0, st[-1] if st else None, self.qid, threading.get_ident())
            )
        st.append(idx)
        if name in self.probed and self.job_probe is not None:
            self.spans[idx].jobs = -self.job_probe()
        self.spans[idx].start = time.monotonic()
        self.charge(self.spans[idx].start - t)
        return idx

    def end(self, idx: int) -> None:
        t = time.monotonic()
        s = self.spans[idx]
        s.end = t
        if s.name in self.probed and self.job_probe is not None:
            s.jobs += self.job_probe()
        self._stack().pop()
        self.charge(time.monotonic() - t)

    def charge(self, seconds: float) -> None:
        with self._lock:  # listener threads record spans concurrently
            self.overhead_s += seconds

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished span measured elsewhere (another process)."""
        with self._lock:
            self.spans.append(Span(name, start, end, None, self.qid, 0))

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- patching ----------------------------------------------------------
    def patch(self) -> None:
        originals: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not callable(fn)
                    or isinstance(fn, type)
                    or getattr(fn, "__module__", None) != modname
                ):
                    continue
                originals[id(fn)] = self.wrap(f"{layer}.{attr}", fn)
        # rebind every reference held by a package module, so call sites
        # that imported the function by name see the wrapper too
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, w)

    def unpatch(self) -> None:
        for mod, attr, val in reversed(self._undo):
            setattr(mod, attr, val)
        self._undo.clear()

    # -- summaries ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, covered):
            out[s.name] += (s.end - s.start) - c
        return dict(out)

    def totals(self, prefix: str) -> tuple[int, float]:
        """(calls, self seconds) over spans whose name starts with
        ``prefix``."""
        calls = sum(1 for s in self.spans if s.name.startswith(prefix))
        return calls, sum(v for k, v in self.self_times().items() if k.startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **vars(s)}) + "\n")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_ms(spark) -> int:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, int(beans.get(i).getCollectionTime())) for i in range(beans.size()))


def catalyst_ms(df) -> dict[str, int]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks completed) for a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = 0, 0
    seen: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


# -- the 2PC sink's commit runs in a Python worker the JVM starts, not in
# this process; in the traced run the benchmark registers this subclass
# under the same format name, and it appends one span line per commit
# to the file named by $PERFBENCH_SPANS
class TimedCommitWriter(MessageLogStreamWriter):
    def commit(self, messages, batchId: int) -> None:
        t0 = time.monotonic()
        try:
            super().commit(messages, batchId)
        finally:
            with open(os.environ["PERFBENCH_SPANS"], "a") as f:
                f.write(json.dumps({"name": "message_log.commit", "start": t0,
                                    "end": time.monotonic()}) + "\n")


class TracedMessageLogDataSource(MessageLogDataSource):
    def streamWriter(self, schema, overwrite: bool) -> MessageLogStreamWriter:
        w = super().streamWriter(schema, overwrite)
        w.__class__ = TimedCommitWriter
        return w
