"""Smoke test of the benchmark itself, at a small scale.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at sf 0.001 with a one-second
ingest window, untraced and traced, and checks that the last stdout line
names every metric of BENCHMARK.json with its unit, that the report line
names every metric of ``REPORT`` with its unit and the environment of
``ENV``, that no operation failed, and that the report line carries
``failed_frac`` = 0. Exits 0 when all pass. Takes a few minutes: every
run starts its own JVM.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_COMMON = {"setup_s": "s", "run_s": "s", "cpu_ms_per_op": "ms",
           "jvm_peak_rss_mb": "MB", "failed_frac": "frac"}
#: workload -> the report line's metrics and their units
REPORT = {
    "batch": {**_COMMON, "query_p50_s": "s", "tpch.run_s": "s", "tpch.query_p50_s": "s",
              "llm_dedup.run_s": "s", "llm_dedup.query_p50_s": "s"},
    "webhook_ingest": {**_COMMON, "ingest_msgs_per_s": "1/s", "ack_p50_ms": "ms",
                       "ack_p99_ms": "ms", "commit_s": "s", "listener_cpu_s": "s"},
}
#: environment fields of the report line
ENV = ("nproc", "load_start", "load_end", "pyspark", "sf")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    report = json.loads(lines[-2].split(": ", 1)[1])
    return report, json.loads(lines[-1])


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            report, result = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            tag = f"{w['name']} trace={trace}"
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got.items())} != {sorted(want.items())}")
            got_report = {k: v.get("unit") for k, v in report["metrics"].items()}
            wrong = {k: got_report.get(k) for k, u in REPORT[w["name"]].items()
                     if got_report.get(k) != u}
            if wrong:
                problems.append(f"{tag}: report metrics missing or with another unit: {wrong}")
            no_unit = [k for k, u in got_report.items() if not u]
            if no_unit:
                problems.append(f"{tag}: report metrics without a unit: {no_unit}")
            no_env = [k for k in ENV if k not in report]
            if no_env:
                problems.append(f"{tag}: report line lacks {no_env}")
            failed_frac = report["metrics"]["failed_frac"]["value"]
            if not result["correct"] or result["failed"] or failed_frac != 0:
                problems.append(f"{tag}: failed {result['failed']} of {result['attempted']}")
            print(f"{tag}: {len(got)} metrics, failed_frac {failed_frac}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
