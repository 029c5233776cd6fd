"""HTTP(S) listener source + push sinks — the reference's `http` module
re-landed on Spark's pull-based streaming model.

Reference behavior (http/.../HttpListenerSourceBuilder.java:36-254):
an embedded HTTP server accepts POST/PUT payloads, maps them to String /
JSON bean / custom type, and feeds the pipeline; malformed JSON returns
HTTP 400 (HttpListenerSourceContext.java:103-107); SSL and mutual
(client-cert) auth are supported (HttpListenerSourceTest.java:76-113);
HTTP/2 is enabled unconditionally (HttpListenerSourceContext.java:80,
HttpListenerSinkContext.java:86). Here both the listener source and the
SSE push sink speak HTTP/2 via the embedded RFC 7540/7541
implementation in `sources/http2.py` — h2c prior-knowledge on
cleartext, ALPN-negotiated h2 on TLS — detected per-connection by
preface sniffing, with HTTP/1.1 as the fallback. The WebSocket sink
remains an HTTP/1.1 upgrade by design: RFC 6455's handshake is
1.1-only, and h2 WebSockets (RFC 8441 extended CONNECT) is a separate
opt-in protocol that the reference's ENABLE_HTTP2 flag does not grant
either.
The sink side pushes results to connected WebSocket or SSE clients
(HttpListenerSinks.java:41-146) with bounded drop-oldest accumulation
while nobody is connected (HttpListenerSinkContext.java:128-152).

Push-based sources don't fit Spark's replayable pull model (SURVEY.md
§7 risk 3), so the listener hands accepted payloads to a
``message_log.SpoolAppender`` (the bounded-queue analog, but durable +
replayable; it owns the buffer, the group commit and the flusher) and
the pipeline reads the spool with the `message_log` streaming source —
giving the webhook path the same exactly-once restart semantics the
reference reserves for its offset-snapshotting sources. JSON-bean
mapping becomes `from_json(schema)` downstream.

The push sinks serve the latest results from a single endpoint — the
analog of forceTotalParallelismOne (HttpListenerSinkBuilder.java:253-263):
one serving point, fed by foreachBatch.
"""

from __future__ import annotations

import base64
import hashlib
import json
import threading
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from hazelcast_jet_contrib_spark.sources import http2
from hazelcast_jet_contrib_spark.streaming import message_log


class _PrefixedReader:
    """rfile wrapper replaying already-sniffed bytes before the raw
    stream — lets the handler fall back to HTTP/1.1 after peeking for
    the HTTP/2 preface."""

    def __init__(self, prefix: bytes, raw):
        self._buf = prefix
        self._raw = raw

    def read(self, n: int = -1):
        if n is None or n < 0:
            out, self._buf = self._buf, b""
            return out + self._raw.read()
        out, self._buf = self._buf[:n], self._buf[n:]
        if len(out) < n:
            out += self._raw.read(n - len(out))
        return out

    def readline(self, limit: int = -1):
        # the prefix never contains a newline (it is at most the first
        # bytes of a request line), so drain it then delegate
        out, self._buf = self._buf, b""
        rest = self._raw.readline(limit - len(out) if limit >= 0 else -1)
        return out + rest

    def __getattr__(self, attr):
        return getattr(self._raw, attr)


class _H2SniffingHandler(BaseHTTPRequestHandler):
    """HTTP/1.1 handler that switches the connection to the embedded
    HTTP/2 server when the client opens with the h2 preface — h2c
    prior-knowledge on cleartext, ALPN-negotiated h2 on TLS (both send
    the same preface; reference parity with Undertow's ENABLE_HTTP2,
    HttpListenerSourceContext.java:80). Subclasses define `_h2_request`
    (headers, body) -> (status, body|chunk-iter) for the h2 path and the
    usual do_* methods for 1.1."""

    # TCP_NODELAY: h2 responses are multiple small frames (HEADERS +
    # DATA) written back-to-back; Nagle + the client's delayed ACK
    # would stall each request ~40ms (same fix as http2.post_h2c)
    disable_nagle_algorithm = True
    # HTTP/1.1, not the stdlib's 1.0 default: a webhook producer's
    # keep-alive connection must actually be kept alive — under 1.0
    # every request paid a fresh TCP connect (and lost the socket
    # options the client set, review r15 #2). Every non-streaming 1.1
    # response below must therefore carry Content-Length; streaming
    # responses (SSE) are close-delimited and set close_connection.
    protocol_version = "HTTP/1.1"

    def _h2_request(self, headers, body):  # pragma: no cover - abstract
        raise NotImplementedError

    def handle(self):
        first = self.rfile.read(3)
        if first == b"PRI":
            rest = first + self.rfile.read(len(http2.PREFACE) - 3)
            if rest != http2.PREFACE:
                return
            try:
                http2.serve_connection(
                    self.rfile, self.wfile, self._h2_request, preface_consumed=True
                )
            except (ValueError, EOFError, BrokenPipeError, ConnectionResetError):
                pass
            self.close_connection = True
            return
        self.rfile = _PrefixedReader(first, self.rfile)
        super().handle()


class HttpListenerSource:
    """Embedded HTTP server spooling POST/PUT bodies into a message-log
    stream. Start one per ingest endpoint; read with:

        spark.readStream.format("message_log").option("path", spool_dir)

    `require_json=True` rejects malformed JSON with HTTP 400 (parity with
    the reference's Undertow handler).

    Durability vs throughput: with ``durable_ack=True`` (default) every
    request's body is appended to the spool BEFORE the HTTP 200 goes out
    — an acknowledged webhook is never lost to a crash. Concurrent
    requests group-commit through ``SpoolAppender.append``: one request
    thread writes every body buffered for its generation as a single
    segment while the others wait for its verdict, and a failed write
    errors every request it covered so producers retry.
    ``durable_ack=False`` buffers bodies (``SpoolAppender.put``) and a
    flusher thread writes them every `flush_interval` seconds or at
    `batch_size` bodies, retrying a failed write; an acknowledged payload
    can then be lost to a crash in that window — choose it only when the
    producer retries. ``appender.metrics()`` counts what was spooled.
    """

    def __init__(
        self,
        spool_dir: str,
        stream_name: str = "http",
        host: str = "127.0.0.1",
        port: int = 0,
        require_json: bool = False,
        batch_size: int = 100,
        tls: tuple[str, str] | None = None,
        client_ca: str | None = None,
        durable_ack: bool = True,
        flush_interval: float = 0.5,
    ):
        """``tls=(certfile, keyfile)`` serves HTTPS (the reference's SSL
        listener): plaintext requests to a TLS listener are rejected at
        the handshake. ``client_ca=<ca.pem>`` additionally demands a
        client certificate signed by that CA (the reference's mutual
        auth, HttpListenerSourceTest.java:76-113): unauthenticated
        clients fail the handshake."""
        if client_ca is not None and tls is None:
            raise ValueError("client_ca (mutual TLS) requires tls=(cert, key)")
        self.spool_dir = spool_dir
        self.stream_name = stream_name
        self.require_json = require_json
        self.durable_ack = durable_ack
        self.appender = message_log.SpoolAppender(
            spool_dir,
            lambda rec: stream_name,
            segment_records=None if durable_ack else batch_size,
            flush_interval=None if durable_ack else flush_interval,
        )
        self._server = ThreadingHTTPServer((host, port), self._handler_class())
        self._tls = tls is not None
        if tls is not None:
            import ssl

            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(certfile=tls[0], keyfile=tls[1])
            # offer h2 via ALPN (reference parity: ENABLE_HTTP2); an
            # h2-negotiated client then sends the same preface the
            # cleartext sniffing path detects
            ctx.set_alpn_protocols(["h2", "http/1.1"])
            if client_ca is not None:
                ctx.verify_mode = ssl.CERT_REQUIRED
                ctx.load_verify_locations(cafile=client_ca)
            self._server.socket = ctx.wrap_socket(self._server.socket, server_side=True)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> str:
        host, port = self._server.server_address[:2]
        scheme = "https" if self._tls else "http"
        return f"{scheme}://{host}:{port}"

    def _handler_class(self):
        source = self

        class Handler(_H2SniffingHandler):
            def _accept(self):
                # the handler frames bodies by Content-Length only; a
                # chunked body would stay unread in the keep-alive
                # buffer and desync the connection — its bytes parsed
                # as the next request (ADVICE r15 #5). RFC 7230 §3.3.1:
                # 501 for an unsupported transfer-coding; close so the
                # unread body can't poison a reused connection.
                if self.headers.get("Transfer-Encoding"):
                    msg = b"Transfer-Encoding not supported; use Content-Length"
                    self.send_response(501)
                    self.send_header("Content-Length", str(len(msg)))
                    # advertise the close (RFC 7230 §6.6) so a
                    # keep-alive client doesn't write its next request
                    # into a socket we're about to shut (review r16 #4)
                    self.send_header("Connection", "close")
                    self.end_headers()
                    self.wfile.write(msg)
                    self.close_connection = True
                    return
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode("utf-8", errors="replace")
                if source.require_json:
                    try:
                        json.loads(body)
                    except json.JSONDecodeError:
                        msg = b"malformed JSON"
                        self.send_response(400)
                        self.send_header("Content-Length", str(len(msg)))
                        self.end_headers()
                        self.wfile.write(msg)
                        return
                # durable_ack: the spool append happens inside _spool,
                # so the 200 below is only ever sent for a durable payload
                source._spool(body)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            do_POST = _accept
            do_PUT = _accept

            def _h2_request(self, headers, body):
                # same contract as _accept, over an HTTP/2 stream
                if headers.get(":method") not in ("POST", "PUT"):
                    return 405, b"POST or PUT required"
                text = body.decode("utf-8", errors="replace")
                if source.require_json:
                    try:
                        json.loads(text)
                    except json.JSONDecodeError:
                        return 400, b"malformed JSON"
                source._spool(text)
                return 200, b""

            def log_message(self, *args):  # quiet
                pass

        return Handler

    def _spool(self, body: str) -> None:
        rec = {"key": None, "value": body}
        if self.durable_ack:
            self.appender.append([rec])  # raises unless written
        else:
            self.appender.put(rec)

    def flush(self) -> None:
        self.appender.flush()

    def start(self) -> "HttpListenerSource":
        # poll_interval bounds how long shutdown() blocks (the default
        # 0.5 s is pure sleep added to every stop() — measured ~0.3 s of
        # the bounded roundtrip row, r18); 50 ms keeps the idle wakeup
        # cost negligible while making stop() prompt.
        self._thread = threading.Thread(
            target=lambda: self._server.serve_forever(poll_interval=0.05),
            daemon=True,
        )
        self._thread.start()
        if not self.durable_ack:
            # time-based flush bounds the ack-before-durability window
            self.appender.start()
        return self

    def stop(self) -> None:
        try:
            # raises if bodies are left unspooled (callers must hear
            # about them) — but the server must come down either way:
            # without the finally, a full disk at stop() leaked the
            # accept thread and the bound port
            self.appender.close()
        finally:
            self._server.shutdown()
            self._server.server_close()


class _PushBuffer:
    """Bounded drop-oldest row buffer with ABSOLUTE sequence numbers
    (HttpListenerSinkContext.java:128-152 accumulation contract).

    Clients track progress as the absolute sequence of the next row they
    want, not a list index: under drop-oldest trimming, indices shift
    but sequence numbers never do, so a slow client neither re-receives
    rows nor skips live ones (it resumes at the oldest retained row)."""

    def __init__(self, max_buffer: int):
        self.max_buffer = max_buffer
        self._rows: deque[str] = deque()
        self._base = 0  # absolute sequence number of _rows[0]
        self._cv = threading.Condition()

    def publish(self, row: str) -> None:
        with self._cv:
            self._rows.append(row)
            while len(self._rows) > self.max_buffer:
                self._rows.popleft()
                self._base += 1
            self._cv.notify_all()

    def rows_from(self, seq: int, timeout: float = 5.0) -> tuple[list[str], int]:
        """Rows with sequence >= seq (clamped to the oldest retained),
        and the next sequence to resume from. Blocks up to `timeout`
        when nothing new is available; returns ([], seq) on timeout."""
        with self._cv:
            self._cv.wait_for(lambda: self._base + len(self._rows) > seq, timeout)
            end = self._base + len(self._rows)
            if end <= seq:
                return [], seq
            start = max(seq, self._base)
            rows = [self._rows[i] for i in range(start - self._base, len(self._rows))]
            return rows, end

    def snapshot(self) -> list[str]:
        with self._cv:
            return list(self._rows)


class _PushSinkBase:
    """Common shell of the single-endpoint push sinks: a _PushBuffer,
    a ThreadingHTTPServer, and the foreachBatch adapter."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, max_buffer: int = 1000):
        self._buffer = _PushBuffer(max_buffer)
        self._server = ThreadingHTTPServer((host, port), self._handler_class())
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def _handler_class(self):  # pragma: no cover - abstract
        raise NotImplementedError

    def publish(self, row_json: str) -> None:
        self._buffer.publish(row_json)

    def foreach_batch(self):
        """foreachBatch adapter: rows are pushed in JSON form through
        the driver — the single-serving-point analog of
        forceTotalParallelismOne. Driver memory is bounded WITHOUT
        dropping deliveries: rows stream through ``toLocalIterator``
        (no prefetch), so the driver holds at most ONE partition of the
        batch at a time — a runaway upstream costs a partition's worth
        of memory, never the whole batch. Every row is still published:
        a connected live client that keeps up receives all of them
        (sequence-numbered reads), while the bounded drop-oldest
        `_PushBuffer` (HttpListenerSinkContext.java:128-152 accumulation
        contract) retains only the newest ``max_buffer`` for late
        joiners. A pre-collect limit() would bound memory too but would
        silently unsend rows live clients are entitled to — retention
        policy must not become delivery policy."""

        def fn(batch_df, epoch_id: int) -> None:
            for row in batch_df.toJSON().toLocalIterator(prefetchPartitions=False):
                self.publish(row)

        return fn

    def start(self):
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


class SsePushSink(_PushSinkBase):
    """Server-Sent-Events push sink: an HTTP endpoint streaming every
    row appended by the pipeline to connected clients; rows arriving
    while no client is connected accumulate up to `max_buffer`,
    dropping the oldest."""

    def _handler_class(self):
        sink = self

        def _events():
            seq = 0
            while True:
                rows, seq = sink._buffer.rows_from(seq, timeout=5)
                if not rows:
                    return
                for r in rows:
                    yield f"data: {r}\n\n".encode()

        class Handler(_H2SniffingHandler):
            def do_GET(self):
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.end_headers()
                # close-delimited stream under HTTP/1.1 (no
                # Content-Length): the connection must close when the
                # event stream ends, never be reused
                self.close_connection = True
                try:
                    for chunk in _events():
                        self.wfile.write(chunk)
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass

            def _h2_request(self, headers, body):
                # same event stream, each chunk its own h2 DATA frame
                return 200, _events()

            def log_message(self, *args):
                pass

        return Handler


_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _ws_accept_key(client_key: str) -> str:
    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def _ws_text_frame(payload: bytes) -> bytes:
    """Single unmasked FIN text frame (RFC 6455 §5.2, server→client)."""
    header = bytearray([0x81])  # FIN + text opcode
    n = len(payload)
    if n < 126:
        header.append(n)
    elif n < 1 << 16:
        header.append(126)
        header += n.to_bytes(2, "big")
    else:
        header.append(127)
        header += n.to_bytes(8, "big")
    return bytes(header) + payload


class WebSocketPushSink(_PushSinkBase):
    """WebSocket push sink (HttpListenerSinks.java:41-146 websocket
    variant): clients complete an RFC 6455 upgrade handshake, then
    receive every pipeline row as a text frame. Same drop-oldest
    accumulation and absolute-sequence resume as the SSE sink. The
    server only pushes; client frames are not read (the reference's
    sink is also one-way)."""

    def _handler_class(self):
        sink = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # 101 upgrade needs keep-alive
            # push frames are small and latency-bound: don't let Nagle
            # hold one behind the client's delayed ACK (same fix as
            # _H2SniffingHandler.disable_nagle_algorithm)
            disable_nagle_algorithm = True

            def do_GET(self):
                key = self.headers.get("Sec-WebSocket-Key")
                if (
                    self.headers.get("Upgrade", "").lower() != "websocket"
                    or key is None
                ):
                    # HTTP/1.1 keep-alive: an unframed body would leave
                    # the client reading forever (ADVICE r15 #4 — same
                    # class as the listener's review-r15 fix)
                    msg = b"websocket upgrade required"
                    self.send_response(400)
                    self.send_header("Content-Length", str(len(msg)))
                    # advertised close, same rationale as the 501 path
                    self.send_header("Connection", "close")
                    self.end_headers()
                    self.wfile.write(msg)
                    self.close_connection = True
                    return
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", _ws_accept_key(key))
                self.end_headers()
                seq = 0
                try:
                    while True:
                        rows, seq = sink._buffer.rows_from(seq, timeout=5)
                        if not rows:
                            break
                        for r in rows:
                            self.wfile.write(_ws_text_frame(r.encode()))
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass
                self.close_connection = True

            def log_message(self, *args):
                pass

        return Handler
