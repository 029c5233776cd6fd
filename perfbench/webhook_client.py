"""Webhook load generator: JSON POSTs over keep-alive HTTP/1.1
connections, one thread per connection, at a fixed rate.

    python3 webhook_client.py URL SEED SECONDS CONNS RATE OUT_JSON

Connection ``c`` sends bodies ``n = c, c + CONNS, c + 2*CONNS, ...``
until SECONDS have passed, one every CONNS/RATE seconds, and each only
after the previous one was answered (at most one request outstanding
per connection). A request's latency runs from the time it was due, so
a stall also delays, and is charged to, the requests queued behind it;
``max_lag_ms`` says how late the generator ran. Bodies are a pure
function of (seed, n), so the reader of OUT_JSON can rebuild every
acknowledged body. Times are ``time.monotonic()``, one clock for every
process on the host.
"""

from __future__ import annotations

import http.client
import json
import random
import sys
import threading
import time
from urllib.parse import urlparse

ROUTES = ("orders", "clicks", "alerts", "billing")
_WORDS = "spark stream join window merge batch key value table order".split()


def make_body(seed: int, n: int) -> str:
    r = random.Random(seed * 1_000_003 + n)
    return json.dumps({
        "id": f"m{seed}-{n}",
        "route": ROUTES[r.randrange(len(ROUTES))],
        "n": n,
        "user": r.randrange(10_000),
        "amount": round(r.uniform(0, 1000), 2),
        "text": " ".join(r.choice(_WORDS) for _ in range(r.randrange(4, 40))),
    })


def _connection(host, port, seed, conns, c, start, deadline, interval, out):
    lat, acked, failed, lag = [], [], 0, 0.0
    first = last = None
    conn = http.client.HTTPConnection(host, port, timeout=30)
    n = c
    due = start + c * interval / conns  # stagger the connections
    while due < deadline:
        body = make_body(seed, n).encode()
        now = time.monotonic()
        if now < due:
            time.sleep(due - now)
        t0 = due
        lag = max(lag, time.monotonic() - due)
        first = time.monotonic() if first is None else first
        try:
            conn.request("POST", "/", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            resp.read()
            ok = resp.status == 200
        except (OSError, http.client.HTTPException):
            ok = False
            conn.close()
            conn = http.client.HTTPConnection(host, port, timeout=30)
        t1 = time.monotonic()
        if ok:
            lat.append((t1 - t0) * 1000.0)
            acked.append(n)
            last = t1
        else:
            failed += 1
        n += conns
        due += interval
    conn.close()
    out[c] = {"lat_ms": lat, "acked": acked, "failed": failed, "first": first,
              "last": last, "lag": lag}


def main(argv: list[str]) -> int:
    url, seed, seconds, conns, rate, out_path = (
        argv[0], int(argv[1]), float(argv[2]), int(argv[3]), float(argv[4]), argv[5]
    )
    u = urlparse(url)
    start = time.monotonic()
    deadline, interval = start + seconds, conns / rate
    out: dict[int, dict] = {}
    threads = [
        threading.Thread(
            target=_connection,
            args=(u.hostname, u.port, seed, conns, c, start, deadline, interval, out),
        )
        for c in range(conns)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    per = [out[c] for c in range(conns)]
    firsts = [p["first"] for p in per if p["first"] is not None]
    lasts = [p["last"] for p in per if p["last"] is not None]
    res = {
        "lat_ms": [x for p in per for x in p["lat_ms"]],
        "acked": sorted(n for p in per for n in p["acked"]),
        "failed": sum(p["failed"] for p in per),
        "first": min(firsts) if firsts else None,
        "last": max(lasts) if lasts else None,
        "max_lag_ms": max(p["lag"] for p in per) * 1000.0,
    }
    with open(out_path, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
