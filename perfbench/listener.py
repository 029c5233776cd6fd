"""One HttpListenerSource(require_json=True, durable_ack=True) in a
process of its own, so that its CPU time is the listener's alone and
not shared with the Spark driver's threads and heap.

    python3 listener.py SPOOL_DIR [SPANS_FILE]

Prints the listener's address as one line, serves until its standard
input closes, then stops the listener and prints one JSON line
``{"cpu_s": ...}``: the user plus system CPU seconds of this process
from the moment it could serve until it had stopped. With SPANS_FILE,
every ``message_log.append_segment`` call is timed and written there as
one JSON line ``{"name", "start", "end"}`` (``time.monotonic()``) when
the listener stops.
"""

from __future__ import annotations

import functools
import json
import resource
import sys
import time

from hazelcast_jet_contrib_spark.sources.http_listener import HttpListenerSource
from hazelcast_jet_contrib_spark.streaming import message_log


def cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def timed(fn, spans: list):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            spans.append((t0, time.monotonic()))

    return wrapper


def main(argv: list[str]) -> int:
    spool, spans_file = argv[0], (argv[1] if len(argv) > 1 else None)
    spans: list[tuple[float, float]] = []
    if spans_file:
        # http_listener calls append_segment through the module
        message_log.append_segment = timed(message_log.append_segment, spans)
    src = HttpListenerSource(spool, "http", require_json=True, durable_ack=True).start()
    cpu0 = cpu_s()
    try:
        print(src.address, flush=True)
        sys.stdin.read()
    finally:
        src.stop()
    cpu = cpu_s() - cpu0
    if spans_file:
        with open(spans_file, "a") as f:
            for t0, t1 in spans:
                f.write(json.dumps({"name": "message_log.append_segment",
                                    "start": t0, "end": t1}) + "\n")
    print(json.dumps({"cpu_s": cpu}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
