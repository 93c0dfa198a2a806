"""serve — buffer pipeline results for retrieval via a ``POST /serve``
REST endpoint.

Reference: ``libtenzir/builtins/operators/serve.cpp:733`` (925 LoC) and
its OpenAPI spec (serve.cpp:85-160): request ``{serve_id,
continuation_token, max_events, timeout}``; response
``{next_continuation_token, schemas: [{schema_id, definition}],
data: [{schema_id, data}]}`` with ``next_continuation_token = null``
once the pipeline is exhausted. The reference also caches the last
result set so a client that lost a response can repeat its last token
(serve.cpp:39-41) — replay here returns the same chunk.

Spark design: serving results is a DRIVER-side concern by nature — the
buffer holds at most ``buffer_size`` events (the reference's default is
64 Ki), never the bulk data path. A batch DataFrame drains through
``toLocalIterator`` (one partition at a time, no full collect); a
streaming DataFrame attaches via ``foreachBatch``. The HTTP server is
stdlib ``ThreadingHTTPServer`` — no extra dependencies.
"""

from __future__ import annotations

import hashlib
import json
import threading

from pyspark.sql import DataFrame

DEFAULT_BUFFER_SIZE = 1 << 16  # 64 Ki events, matching serve.cpp:225
MAX_TIMEOUT_SECONDS = 5.0      # "must not be greater than 5 seconds"


class ServeBuffer:
    """Bounded result buffer with continuation-token paging."""

    def __init__(self, serve_id: str, buffer_size: int = DEFAULT_BUFFER_SIZE):
        self.serve_id = serve_id
        self.buffer_size = buffer_size
        self._rows: list[dict] = []
        self._schema_json: str | None = None
        self._done = False
        self._seq = 0
        self._last_token: str | None = None
        self._last_response: dict | None = None
        self._cv = threading.Condition()

    # ---------------------------------------------------------- producer

    def put(self, rows: list[dict], schema_json: str | None = None) -> None:
        """Append rows; blocks while the buffer is full (backpressure —
        the reference parks the pipeline's put until a get drains).

        The capacity bound is enforced per chunk, not just checked once:
        a single oversized batch is admitted ``buffer_size - len`` rows
        at a time, waiting for the consumer to drain in between. After
        ``finish()`` the buffer is closed and further rows are refused.
        """
        with self._cv:
            if schema_json is not None:
                self._schema_json = schema_json
            i = 0
            while i < len(rows):
                while (len(self._rows) >= self.buffer_size
                       and not self._done):
                    self._cv.wait(timeout=0.5)
                if self._done:
                    raise RuntimeError(
                        f"serve buffer {self.serve_id!r} is finished; "
                        f"refusing {len(rows) - i} late rows")
                room = self.buffer_size - len(self._rows)
                self._rows.extend(rows[i:i + room])
                i += room
                self._cv.notify_all()

    def finish(self) -> None:
        with self._cv:
            self._done = True
            self._cv.notify_all()

    # ---------------------------------------------------------- consumer

    def _schema_id(self) -> str:
        src = self._schema_json or ""
        return hashlib.md5(src.encode()).hexdigest()[:16]

    def get(self, continuation_token: str | None, max_events: int | None,
            timeout: float) -> dict:
        """One /serve request. Returns the OpenAPI response dict."""
        if max_events is not None:
            # external input: coerce and bound (a negative slice would
            # silently corrupt paging; a string would TypeError mid-get)
            try:
                max_events = int(max_events)
            except (TypeError, ValueError):
                raise ValueError(f"max_events must be an integer, got "
                                 f"{max_events!r}")
            if max_events < 1:
                raise ValueError("max_events must be >= 1")
        timeout = min(max(timeout, 0.0), MAX_TIMEOUT_SECONDS)
        with self._cv:
            # replay of the last served token returns the cached response
            # (client lost the reply; serve.cpp:39-41 last-result cache)
            if (continuation_token is not None
                    and continuation_token == self._last_token
                    and self._last_response is not None):
                return self._last_response
            expected = f"t{self._seq}" if self._seq else None
            if continuation_token != expected:
                raise ValueError(
                    f"invalid continuation token {continuation_token!r}")
            want = max_events if max_events is not None else self.buffer_size
            self._cv.wait_for(
                lambda: self._done or len(self._rows) >= want,
                timeout=timeout)
            chunk = self._rows[:want]
            self._rows = self._rows[want:]
            self._cv.notify_all()
            exhausted = self._done and not self._rows
            self._seq += 1
            next_token = None if exhausted else f"t{self._seq}"
            sid = self._schema_id()
            resp = {
                "next_continuation_token": next_token,
                "schemas": [{
                    "schema_id": sid,
                    "definition": (json.loads(self._schema_json)
                                   if self._schema_json else None),
                }],
                "data": [{"schema_id": sid, "data": r} for r in chunk],
            }
            self._last_token = continuation_token
            self._last_response = resp
            return resp


class ServeManager:
    """Registry of serve buffers + the /serve HTTP endpoint."""

    def __init__(self):
        self._buffers: dict[str, ServeBuffer] = {}
        self._lock = threading.Lock()
        self._httpd = None
        self._thread = None

    def buffer(self, serve_id: str,
               buffer_size: int = DEFAULT_BUFFER_SIZE) -> ServeBuffer:
        with self._lock:
            if serve_id not in self._buffers:
                self._buffers[serve_id] = ServeBuffer(serve_id, buffer_size)
            return self._buffers[serve_id]

    def stop_buffer(self, serve_id: str) -> None:
        with self._lock:
            buf = self._buffers.pop(serve_id, None)
        if buf:
            buf.finish()

    def serve_request(self, req: dict) -> tuple[int, dict]:
        """One /serve request -> (http_code, response body). Shared by
        this manager's own endpoint and the node REST API (web.py),
        which mounts /serve next to /pipeline/* like the reference."""
        try:
            serve_id = req["serve_id"]
        except (KeyError, TypeError) as exc:
            return 400, {"error": f"bad request: {exc}"}
        with self._lock:
            buf = self._buffers.get(serve_id)
        if buf is None:
            return 404, {"error": f"unknown serve id {serve_id!r}"}
        try:
            timeout = _parse_timeout(req.get("timeout", "100ms"))
            return 200, buf.get(req.get("continuation_token"),
                                req.get("max_events"), timeout)
        except (KeyError, ValueError) as exc:
            return 400, {"error": str(exc)}

    # ------------------------------------------------------------- http

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start the endpoint; returns the bound port."""
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        manager = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, obj: dict):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                if self.path.rstrip("/") not in ("/serve", "/api/v0/serve"):
                    return self._reply(404, {"error": "unknown endpoint"})
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    req = json.loads(self.rfile.read(n) or b"{}")
                except json.JSONDecodeError as exc:
                    return self._reply(400, {"error": f"bad request: {exc}"})
                return self._reply(*manager.serve_request(req))

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def shutdown(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd = None


def _parse_timeout(s) -> float:
    """'100ms' / '2s' / numeric seconds -> float seconds."""
    if isinstance(s, (int, float)):
        return float(s)
    s = str(s).strip()
    if s.endswith("ms"):
        return float(s[:-2]) / 1000.0
    if s.endswith("s"):
        return float(s[:-1])
    return float(s)


_DEFAULT_MANAGER: ServeManager | None = None
_DEFAULT_LOCK = threading.Lock()


def default_manager() -> ServeManager:
    """Process-wide manager used by the TQL ``serve <id>`` sink; the
    endpoint starts lazily on an ephemeral port (``manager.port``)."""
    global _DEFAULT_MANAGER
    with _DEFAULT_LOCK:
        if _DEFAULT_MANAGER is None:
            m = ServeManager()
            m.port = m.start()
            _DEFAULT_MANAGER = m
        return _DEFAULT_MANAGER


def serve(df: DataFrame, serve_id: str, manager: ServeManager,
          buffer_size: int = DEFAULT_BUFFER_SIZE,
          available_now: bool = False):
    """Attach a DataFrame's results to ``manager`` under ``serve_id``.

    Batch: a background thread drains ``toLocalIterator`` into the
    buffer (partition-at-a-time; the bounded buffer applies backpressure
    to the iterator, so no full collect) and marks it done. Streaming:
    every micro-batch appends via ``foreachBatch``; returns the
    StreamingQuery — the buffer completes when the query stops.
    """
    buf = manager.buffer(serve_id, buffer_size)
    schema_json = df.schema.json()
    if df.isStreaming:
        def sink(batch_df, _epoch):
            # Same serialization as the batch path: toJSON renders
            # timestamps/dates/decimals/binary as JSON-safe values.
            # Row.asDict would leak datetime/Decimal objects into the
            # buffer and make json.dumps fail at reply time, dropping
            # the chunk after the token already advanced.
            buf.put([json.loads(r) for r in batch_df.toJSON().collect()],
                    schema_json)
        writer = df.writeStream.outputMode("append").foreachBatch(sink)
        if available_now:
            # drain everything currently available, then terminate — the
            # buffer finishes and the LAST get returns a null token
            # (serve.cpp:733 completion semantics)
            writer = writer.trigger(availableNow=True)
        query = writer.start()

        def finish_when_done():
            query.awaitTermination()
            buf.finish()

        threading.Thread(target=finish_when_done, daemon=True).start()
        return query

    def drain():
        try:
            for row in df.toJSON().toLocalIterator():
                buf.put([json.loads(row)], schema_json)
        except RuntimeError:
            pass  # buffer closed under us (stop_buffer): end the drain
        finally:
            buf.finish()

    t = threading.Thread(target=drain, daemon=True)
    t.start()
    return t
