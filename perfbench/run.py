"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,webhook_ingest}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from the seed;
everything the run writes stays under ``.perfbench_work/`` in the
checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it repeats the workload's own metric names (for
example ``ack_p99_ms``, ``failed_frac``) and the environment.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PKG_DIR = ROOT / "hazelcast_jet_contrib_spark"

WORKLOADS = ("batch", "webhook_ingest")
#: scale factor of the generated tables the batch queries read
SF = 0.01
DRIVER_MEM = "2g"

#: the metrics of the result line with --trace 0; the report line
#: before it carries these and the rest of each workload's metrics
END_TO_END = ("setup_s", "cpu_ms_per_op")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF, help="scale factor of the batch tables")
    return p.parse_args(argv)


def pin_environment(work: Path, trace_on: bool) -> int:
    """Core count, driver memory, module path and scratch dirs, set
    before the JVM starts so Spark and its Python workers inherit them."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the message_log data source is imported by Python workers too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    if trace_on:
        os.environ["PERFBENCH_SPANS"] = str(work / "worker_spans.jsonl")
    import tempfile

    tempfile.tempdir = str(tmp)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return nproc


def session(work: Path):
    from hazelcast_jet_contrib_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file under the system temp dir; compiler
            # threads that are never retired, so that workloads.CpuMeter
            # can read the JIT's CPU time from each of them
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:+PerfDisableSharedMem"
                " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Py4JError:
                pass
            # the JVM exits when its stdin closes
            try:
                gw.proc.stdin.close()
                gw.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def layer_metrics(tracer, wl, spark, gc_ms: int, run_s: float) -> dict:
    """Per-layer metrics of the traced window, as (value, unit) pairs."""
    from perfbench import trace

    def spans(name):
        return [s for s in tracer.spans if s.name == name]

    ops = getattr(wl, "ops", [])
    lay = [op.get("layers", {}) for op in ops]
    m: dict[str, tuple[float, str]] = {}
    tbl = spans("registry.table")
    m["registry.table_calls"] = (len(tbl), "count")
    m["registry.table_s"] = (sum(s.end - s.start for s in tbl), "s")
    m["registry.table_jobs"] = (sum(s.jobs for s in tbl), "count")
    build = spans("queries.build")
    m["queries.build_s"] = (sum(s.end - s.start for s in build), "s")
    m["queries.build_jobs"] = (sum(s.jobs for s in build), "count")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (sum(x.get("catalyst", {}).get(ph, 0) for x in lay), "ms")
    m["exec.collect_s"] = (sum(s.end - s.start for s in spans("exec.collect")), "s")
    jobs = sum(x.get("jobs", 0) for x in lay)
    stages = sum(x.get("stages", 0) for x in lay)
    tasks = sum(x.get("tasks", 0) for x in lay)
    res = getattr(wl, "res", {})
    for d in res.get("drains", []):
        j, st, tk = trace.job_counts(spark, d["run_id"])
        jobs, stages, tasks = jobs + j, stages + st, tasks + tk
    m["spark.jobs"], m["spark.stages"], m["spark.tasks"] = (
        (jobs, "count"), (stages, "count"), (tasks, "count"))
    for layer in ("cache", "operators.dedup", "operators.graph", "operators.clustering"):
        calls, self_s = tracer.totals(layer + ".")
        m[f"{layer}.calls"] = (calls, "count")
        m[f"{layer}.self_s"] = (self_s, "s")
    for key, src, field, unit in (
        ("audit.shuffle_bytes", "shuffle", "shuffle_bytes", "bytes"),
        ("audit.shuffle_records", "shuffle", "shuffle_records", "count"),
        ("audit.exchanges", "shuffle", "exchanges", "count"),
        ("audit.scan_bytes", "scan", "bytes", "bytes"),
    ):
        m[key] = (sum(x.get(src, {}).get(field, 0) for x in lay), unit)
    segs, msgs, nbytes = 0, 0, 0
    sdir = os.path.join(res["spool"], "http") if res.get("spool") else ""
    for f in os.listdir(sdir) if sdir and os.path.isdir(sdir) else []:
        if f.endswith(".jsonl"):
            segs += 1
            p = os.path.join(sdir, f)
            nbytes += os.path.getsize(p)
            with open(p) as fh:
                msgs += sum(1 for _ in fh)
    m["http_listener.segments"] = (segs, "count")
    m["http_listener.msgs_per_segment"] = (msgs / segs if segs else 0.0, "msgs")
    m["http_listener.spool_bytes"] = (nbytes, "bytes")
    # the listener process's appends and the Python workers' 2PC commits
    # of the window were written to a file
    commit_s = 0.0
    wspans = os.environ.get("PERFBENCH_SPANS", "")
    if wspans and os.path.exists(wspans):
        with open(wspans) as f:
            for line in f:
                d = json.loads(line)
                tracer.add(d["name"], d["start"], d["end"])
                if d["name"] == "message_log.commit":
                    commit_s += d["end"] - d["start"]
    app = spans("message_log.append_segment")
    m["message_log.append_calls"] = (len(app), "count")
    m["message_log.append_s"] = (sum(s.end - s.start for s in app), "s")
    m["message_log.commit_s"] = (commit_s, "s")
    prog = [p for d in res.get("drains", []) for p in d["progress"]]
    m["stream.addBatch_ms"] = (sum(p["durationMs"].get("addBatch", 0) for p in prog), "ms")
    m["stream.walCommit_ms"] = (sum(p["durationMs"].get("walCommit", 0) for p in prog), "ms")
    m["stream.batches"] = (len(prog), "count")
    m["jvm.gc_ms"] = (gc_ms, "ms")
    m["trace.run_s"] = (run_s, "s")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    m["trace.spans"] = (len(tracer.spans), "count")
    return m


def main(argv=None) -> int:
    args = parse(argv)
    if not (PKG_DIR / "__init__.py").is_file():
        print(f"perfbench: {PKG_DIR.name}/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    load_start = os.getloadavg()[0]
    nproc = pin_environment(work, bool(args.trace))

    import pyspark

    from perfbench import trace, workloads

    wl = workloads.make(args.workload, args.sf)
    spark = None
    try:
        marks = [time.perf_counter()]
        spark = session(work)
        marks.append(time.perf_counter())
        wl.prepare(spark, str(work / "inputs"), args.seed)
        marks.append(time.perf_counter())
        wl.warm(spark, args.seconds)
        marks.append(time.perf_counter())
        setup_s = marks[-1] - T_START
        tracer = None
        if args.trace:
            tracer = trace.Tracer()
            tracer.probed = {"registry.table", "queries.build"}
            if args.workload == "webhook_ingest":
                spark.dataSource.register(trace.TracedMessageLogDataSource)
            tracer.patch()
        gc0 = trace.jvm_gc_ms(spark)
        meter, host0 = workloads.CpuMeter(trace.jvm_pid(spark)), host_cpu_ticks()
        t0 = time.perf_counter()
        try:
            wl.run(spark, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.unpatch()
        window_s = time.perf_counter() - t0
        cpu = meter.read()
        host1 = host_cpu_ticks()
        gc_ms = trace.jvm_gc_ms(spark) - gc0
        rss = peak_rss_mb(trace.jvm_pid(spark))
        misses = wl.check()
        res = wl.metrics(cpu["program"])
        m = res["metrics"]
        layers = layer_metrics(tracer, wl, spark, gc_ms, m["run_s"][0]) if tracer else None
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = res["attempted"]
    failed = res.get("failed", len(misses))
    for miss in misses:
        print(f"perfbench: MISS {miss}", file=sys.stderr)
    m["setup_s"] = (setup_s, "s")
    m["jvm_peak_rss_mb"] = (rss, "MB")
    m["failed_frac"] = (failed / attempted, "frac")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "sf": args.sf if args.workload == "batch" else None,
        "nproc": nproc, "pyspark": pyspark.__version__,
        "load_start": load_start, "load_end": os.getloadavg()[0],
        "steal_frac": (host1[0] - host0[0]) / max(1, host1[1] - host0[1]),
        # where set-up went: imports, session, inputs, warm-up
        "setup_parts_s": [round(b - a, 3) for a, b in zip([T_START] + marks, marks)],
        "window_s": window_s, "jvm_gc_ms": gc_ms,
        # CPU seconds of the window: all processes, and the JVM's JIT
        # compiler and garbage collector threads among them
        "window_cpu_s": cpu,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
    if "query_s" in res:
        report["query_s"] = res["query_s"]
    if layers:
        os.makedirs(base / "traces", exist_ok=True)
        span_file = base / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        tracer.dump(str(span_file))
        report["spans_file"] = str(span_file.relative_to(ROOT))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: report["metrics"][k] for k in END_TO_END}
    print("perfbench report: " + json.dumps(report))
    print(json.dumps({
        "correct": not misses and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
