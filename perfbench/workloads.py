"""The two workloads. Each has ``prepare`` (inputs from the seed),
``warm`` (untimed warm-up), ``run`` (the timed window) and ``check``
(results against their oracle, outside the timed window)."""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import re
import statistics
import subprocess
import sys
import time
from datetime import date, datetime

from perfbench import datagen, trace
from perfbench.webhook_client import make_body

#: one LLM-curation query per operator family (dedup, graph,
#: clustering); each also goes through cache.adaptive_repartition,
#: checkpoints and per-iteration jobs
LLM_DEDUP = [
    "neardup_clusters",
    "pagerank_event_graph",
    "kmeans_cluster_profile",
]


#: scale factor of the batch warm-up pass's tables
WARM_SF = 0.001


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, its Python workers, the load generator), reaped children
    included. Unlike wall time it does not count time the host took
    the CPU away (steal)."""
    me, procs = os.getpid(), {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            rest = stat[stat.rindex(")") + 2:].split()
            procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [me]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


#: JVM threads that run the JVM rather than the program, by the start of
#: their name as /proc shows it (at most 15 characters)
JVM_SERVICE = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread"),
    "gc": ("GC Thread#", "G1 ", "VM Thread"),
}


def _service_threads(jvm: int) -> dict[int, tuple[str, float]]:
    """tid -> (kind, CPU seconds) of the JVM's service threads."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        kind = next((k for k, pre in JVM_SERVICE.items() if name.startswith(pre)), None)
        if kind:
            rest = stat[stat.rindex(")") + 2:].split()
            out[int(tid)] = (kind, (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK"))
    return out


class CpuMeter:
    """CPU seconds of the process tree since ``__init__``, and the part
    of it the JVM's JIT compiler and garbage collector threads used. The
    JVM runs with a fixed set of compiler threads (see run.py), so every
    one that ran in between is still there to be read."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.tree0, self.threads0 = tree_cpu_s(), _service_threads(jvm)

    def read(self) -> dict[str, float]:
        out = {"tree": tree_cpu_s() - self.tree0, "jit": 0.0, "gc": 0.0}
        for tid, (kind, s) in _service_threads(self.jvm).items():
            out[kind] += s - self.threads0.get(tid, (kind, 0.0))[1]
        out["program"] = out["tree"] - out["jit"] - out["gc"]
        return out


# -- oracle comparison (the registry's rule) --------------------------------
def _norm(v):
    """One result value in a form both engines agree on. The same rule as
    scripts/driver_sim.py, kept here so that the benchmark does not
    depend on a script."""
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(cols: list[str], rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    value_hash = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return [cols[i] for i in order], len(lines), value_hash


class Batch:
    """Registry queries run one at a time by one client (a closed loop):
    whole passes over the query set, in a fixed order, until the window
    has passed. Every query is checked against its DuckDB oracle after
    the window."""

    def __init__(self, families: dict[str, list[str]], sf: float):
        self.families, self.sf = families, sf
        # a fixed order, the llm_dedup queries spread evenly between the
        # tpch ones
        tpch, llm = families["tpch"], families["llm_dedup"]
        step = -(-len(tpch) // len(llm))
        self.names = [
            n for i in range(len(llm))
            for n in tpch[i * step:(i + 1) * step] + [llm[i]]
        ]
        self.sf_dir = self.warm_dir = ""
        self.ops: list[dict] = []

    def prepare(self, spark, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "data")
        datagen.write(self.sf_dir, seed, self.sf)
        self.warm_dir = os.path.join(work, "warm_data")
        datagen.write(self.warm_dir, seed, min(self.sf, WARM_SF))

    def warm(self, spark, seconds: float) -> None:
        # one untimed pass over the same queries on smaller tables: the
        # first run of a query in a fresh JVM loads and generates the
        # classes its plan needs, and a cold pass used twice the CPU of
        # a warm one
        for name in self.names:
            self._query(spark, name, "warm", None, self.warm_dir)

    def _query(self, spark, name: str, tag: str, tracer: trace.Tracer | None,
               sf_dir: str = "") -> dict:
        from hazelcast_jet_contrib_spark.registry import QUERIES

        sc = spark.sparkContext
        span = tracer.span if tracer is not None else lambda _name: contextlib.nullcontext()
        gid = f"perfbench-{tag}-{name}"
        sc.setJobGroup(gid, name)
        op = {"name": name, "error": None}
        if tracer is not None:
            tracer.qid = gid
            tracer.job_probe = lambda g=gid: len(sc.statusTracker().getJobIdsForGroup(g))
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with span("query"):
                with span("queries.build"):
                    df = QUERIES[name](spark, sf_dir or self.sf_dir)
                with span("exec.collect"):
                    op["rows"] = df.collect()
        except Exception as ex:  # counted as failed, the loop goes on
            op["error"] = repr(ex)[:300]
        op["wall_s"] = time.perf_counter() - t0
        op["cpu_s"] = tree_cpu_s() - cpu0
        if op["error"] is None:
            op["cols"] = df.columns
        if tracer is not None and op["error"] is None:
            ta = time.perf_counter()
            op["layers"] = query_layers(spark, df, gid)
            tracer.charge(time.perf_counter() - ta)
        spark.catalog.clearCache()
        sc.setJobGroup("perfbench-idle", "idle")
        return op

    def run(self, spark, seconds: float, tracer: trace.Tracer | None) -> None:
        deadline = time.perf_counter() + seconds
        n_pass = 0
        while True:
            for name in self.names:
                op = self._query(spark, name, str(n_pass), tracer)
                op["pass"] = n_pass
                self.ops.append(op)
            n_pass += 1
            if time.perf_counter() >= deadline:
                break

    def check(self) -> list[str]:
        import duckdb
        from hazelcast_jet_contrib_spark.registry import ORACLES

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
            )
        want: dict[str, tuple] = {}
        misses = []
        for op in self.ops:
            name = op["name"]
            if op["error"] is not None:
                misses.append(f"{name}: raised {op['error']}")
            elif name not in ORACLES:
                misses.append(f"{name}: no oracle")
            else:
                if name not in want:
                    res = con.execute(ORACLES[name])
                    want[name] = digest([d[0] for d in res.description], res.fetchall())
                got = digest(op["cols"], op["rows"])
                if got != want[name]:
                    misses.append(
                        f"{name}: cols/rows {got[:2]} vs oracle {want[name][:2]}, "
                        f"hash match {got[2] == want[name][2]}"
                    )
                op["rows"] = None
        con.close()
        return misses

    def metrics(self, cpu_s: float) -> dict:
        """name -> (value, unit) of the timed window, plus the counts;
        ``cpu_s`` is the window's program CPU (``CpuMeter``)."""
        walls = [op["wall_s"] for op in self.ops]
        passes = 1 + max(op["pass"] for op in self.ops)
        m = {
            "run_s": (sum(walls) / passes, "s"),
            "cpu_ms_per_op": (cpu_s * 1000.0 / len(walls), "ms"),
            "query_p50_s": (statistics.median(walls), "s"),
            "passes": (passes, "count"),
        }
        for family, names in self.families.items():
            fw = [op["wall_s"] for op in self.ops if op["name"] in names]
            m[f"{family}.run_s"] = (sum(fw) / passes, "s")
            m[f"{family}.query_p50_s"] = (statistics.median(fw), "s")
        first_pass = {op["name"]: [round(op["wall_s"], 3), round(op["cpu_s"], 2)]
                      for op in self.ops if op["pass"] == 0}
        return {"attempted": len(self.ops), "metrics": m, "query_s": first_pass}


def query_layers(spark, df, gid: str) -> dict:
    from hazelcast_jet_contrib_spark.plans.audit import (
        executed_scan_stats,
        executed_shuffle_stats,
    )

    out = {"catalyst": trace.catalyst_ms(df)}
    out["jobs"], out["stages"], out["tasks"] = trace.job_counts(spark, gid)
    out["shuffle"] = executed_shuffle_stats(df)
    out["scan"] = executed_scan_stats(df)
    return out


# -- webhook ingest ------------------------------------------------------------
def stream_leg(spark, spool_root: str, dst: str, ckpt: str):
    """Spool -> message_log stream source -> route by the body's `route`
    field -> 2PC message_log writer. Returns the stopped query."""
    from pyspark.sql import functions as F

    q = (
        spark.readStream.format("message_log")
        .option("path", spool_root)
        .load()
        .select(
            F.concat(F.lit("out_"), F.get_json_object("value", "$.route")).alias("stream"),
            F.get_json_object("value", "$.id").alias("key"),
            "value",
        )
        .writeStream.format("message_log")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination()
    return q


def read_output(dst: str) -> list[tuple[str, dict]]:
    """Every committed output record as (stream, record)."""
    out = []
    for stream in sorted(os.listdir(dst)) if os.path.isdir(dst) else []:
        sdir = os.path.join(dst, stream)
        for f in sorted(os.listdir(sdir)):
            if re.fullmatch(r"\d+\.jsonl", f):
                with open(os.path.join(sdir, f)) as fh:
                    out += [(stream, json.loads(line)) for line in fh if line.strip()]
    return out


class Ingest:
    """A separate generator process POSTs seeded JSON bodies at a fixed
    rate over keep-alive connections, each with at most one request
    outstanding, into an HttpListenerSource(require_json=True,
    durable_ack=True) that runs in a process of its own; then a
    Structured Streaming query drains the spool through the 2PC
    message_log writer, routed by a body field."""

    CONNS = 3
    #: offered load, msgs/s over all connections: a quarter (calm host)
    #: to a half (busy host) of what the listener acknowledges when the
    #: connections never wait, so latency is measured below saturation,
    #: where it does not depend on how far a backlog happened to grow
    RATE = 250
    #: the warm-up ingests as many messages as the timed window, faster
    WARM_RATE = 1000
    #: the window drains the spool this many times, each with a query of
    #: its own (the log is immutable and replayable); the gate takes the
    #: median drain
    DRAINS = 3

    def __init__(self):
        self.res: dict = {}

    def prepare(self, spark, work: str, seed: int) -> None:
        from hazelcast_jet_contrib_spark.streaming import message_log

        self.seed, self.work = seed, work
        os.makedirs(work, exist_ok=True)
        message_log.register(spark)

    def warm(self, spark, seconds: float) -> None:
        # the whole path once with as many messages as the window: the
        # JVM's first streaming query takes 15-25 s, and a drain after a
        # small warm-up still spent a varying part of its CPU compiling
        self._ingest(spark, os.path.join(self.work, "warm"),
                     seconds * self.RATE / self.WARM_RATE, self.WARM_RATE, 1)

    def _ingest(self, spark, base: str, seconds: float, rate: float, drains: int,
                spans: str | None = None) -> dict:
        spool = os.path.join(base, "spool")
        out_json = os.path.join(base, "client.json")
        os.makedirs(spool, exist_ok=True)
        here = os.path.dirname(os.path.abspath(__file__))
        listener = subprocess.Popen(
            [sys.executable, os.path.join(here, "listener.py"), spool] + ([spans] if spans else []),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            address = listener.stdout.readline().strip()
            if not address:
                raise RuntimeError("the listener process printed no address")
            client = subprocess.run(
                [
                    sys.executable, os.path.join(here, "webhook_client.py"),
                    address, str(self.seed), str(seconds), str(self.CONNS), str(rate), out_json,
                ]
            )
            if client.returncode != 0:
                raise RuntimeError(f"webhook client exited {client.returncode}")
            listener.stdin.close()
            listener_cpu_s = json.loads(listener.stdout.readline())["cpu_s"]
            listener.wait(timeout=60)
        finally:
            if listener.poll() is None:
                listener.kill()
            listener.wait()
        with open(out_json) as f:
            res = json.load(f)
        res.update(spool=spool, listener_cpu_s=listener_cpu_s, drains=[])
        # the generator and the listener have been reaped, so from here
        # on every CPU second of the process tree is the stream's
        for i in range(drains):
            dst, ckpt = (os.path.join(base, f"{d}{i}") for d in ("out", "ckpt"))
            t0, meter = time.monotonic(), CpuMeter(trace.jvm_pid(spark))
            q = stream_leg(spark, spool, dst, ckpt)
            res["drains"].append({
                "start": t0, "committed": time.monotonic(), "cpu": meter.read(), "dst": dst,
                "run_id": str(q.runId),
                "progress": [json.loads(p.json) for p in q.recentProgress],
            })
        return res

    def run(self, spark, seconds: float, tracer: trace.Tracer | None) -> None:
        if tracer is not None:
            tracer.qid = "ingest"
        self.res = self._ingest(spark, os.path.join(self.work, "ingest"), seconds, self.RATE,
                                self.DRAINS, os.environ.get("PERFBENCH_SPANS"))

    def check(self) -> list[str]:
        r = self.res
        misses = [f"{r['failed']} POSTs not acknowledged with 200"] * (r["failed"] > 0)
        expected = {f"m{self.seed}-{n}": n for n in r["acked"]}
        r["lost"] = r["bad"] = 0
        for i, d in enumerate(r["drains"]):
            seen: set[str] = set()
            bad = 0
            for stream, rec in read_output(d["dst"]):
                key = rec.get("key")
                n = expected.get(key)
                body = make_body(self.seed, n) if n is not None else None
                if (
                    n is None
                    or key in seen
                    or rec.get("value") != body
                    or stream != "out_" + json.loads(body)["route"]
                ):
                    bad += 1
                seen.add(key)
            lost = len(set(expected) - seen)
            r["lost"], r["bad"] = max(r["lost"], lost), max(r["bad"], bad)
            if lost:
                misses.append(f"drain {i}: {lost} acknowledged messages missing from the output")
            if bad:
                misses.append(f"drain {i}: {bad} output records duplicated, unknown, altered "
                              "or misrouted")
        return misses

    def metrics(self, cpu_s: float) -> dict:
        """``cpu_ms_per_op`` is the program CPU of the median drain per
        message; ``cpu_s`` is not used. The listener's CPU is reported
        apart: most of it is kernel time in the group commit's fsync,
        which follows the host's disk (0.95-1.4 ms per message with
        nothing else running)."""
        r = self.res
        lat = r["lat_ms"]
        acked = len(r["acked"])
        rate = acked / (r["last"] - r["first"])
        # the first drain is the one a user waits for
        committed = r["drains"][0]["committed"]
        drain_cpu = statistics.median(d["cpu"]["program"] for d in r["drains"])
        m = {
            "run_s": (committed - r["first"], "s"),
            "cpu_ms_per_op": (drain_cpu * 1000.0 / acked, "ms"),
            "ingest_msgs_per_s": (rate, "1/s"),
            "ack_p50_ms": (statistics.median(lat), "ms"),
            "ack_p99_ms": (percentile(lat, 99), "ms"),
            "commit_s": (committed - r["last"], "s"),
            "listener_cpu_s": (r["listener_cpu_s"], "s"),
            "generator_max_lag_ms": (r["max_lag_ms"], "ms"),
            "msgs": (acked, "count"),
        }
        return {"attempted": acked + r["failed"],
                "failed": r["failed"] + r.get("lost", 0) + r.get("bad", 0), "metrics": m}


def make(workload: str, sf: float):
    from hazelcast_jet_contrib_spark.registry import QUERIES

    if workload == "batch":
        tpch = sorted(
            (n for n in QUERIES if re.match(r"q\d+_", n)), key=lambda n: int(n[1:].split("_")[0])
        )
        # every fourth one (q1, q5, q10, q15, q19: one to six tables
        # each), so that a run, two passes, stays near a minute
        return Batch({"tpch": tpch[::4], "llm_dedup": list(LLM_DEDUP)}, sf)
    if workload == "webhook_ingest":
        return Ingest()
    raise ValueError(f"unknown workload {workload!r}")
