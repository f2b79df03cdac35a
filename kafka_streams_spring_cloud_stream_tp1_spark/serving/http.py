"""HTTP/SSE serving layer — the reference's controller + live chart
(V1/S1/Q1 serving shell around the engine).

Reproduces the reference's web surface (reference:
controllers/PageEventController.java:34-58, static/index.html:17-37):

- ``GET /analytics`` — Server-Sent Events: one ``{page -> count}``
  JSON map per poll interval (1 Hz like the reference's
  ``Flux.interval(Duration.ofSeconds(1))``), each snapshot produced by
  the injected ``fetch`` callable (normally `CountStore.range_fetch`,
  the Q1 latest-window-per-key read of the store, run in process with
  no Spark job per snapshot). A failing ``fetch`` — including a
  stopped or failed streaming query — ends the stream with one
  ``event: error`` frame instead of serving stale counts.
- ``GET /publish?name=X&topic=T`` — the S1 ingest endpoint: delegates
  to the injected ``publish`` callable and echoes the produced event
  as the JSON response body, exactly like the reference's
  ``streamBridge.send(topic, event); return pageEvent``.
- ``GET /`` — a minimal live view subscribing to ``/analytics`` with
  ``EventSource``. The reference renders a Smoothie.js chart from a
  CDN; this stays dependency-free (a rolling text log of snapshots) —
  the serving contract (SSE wire format, 1 Hz cadence) is identical.

Engine boundary note (SURVEY.md §2.1 V1): everything here is a THIN
shell over driver-local reads — stdlib ``http.server`` only, no
framework. The serving thread reads the store while the streaming
query's executor threads write it: the same store-writer vs
store-reader split as the reference's InteractiveQueryService. At
cluster scale this process would sit next to the external KV that
`streaming/sinks.py` upserts into, not next to the driver.
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

_INDEX_HTML = """<!doctype html>
<html>
<head><title>page analytics</title></head>
<body>
<h3>page view counts (5 s windows, live)</h3>
<pre id="log"></pre>
<script>
  const log = document.getElementById("log");
  const show = (line) => {
    log.textContent = new Date().toISOString() + "  " + line + "\\n"
                      + log.textContent.split("\\n").slice(0, 19).join("\\n");
  };
  const sse = new EventSource("/analytics");
  sse.onmessage = (e) => show(e.data);
  sse.addEventListener("error", (e) => { if (e.data) show("error " + e.data); });
</script>
</body>
</html>
"""


class _HTTPServer(ThreadingHTTPServer):
    """A ThreadingHTTPServer whose `server_close` joins every handler
    thread. The threads stay daemonic, so an open SSE stream never
    blocks interpreter exit; the stdlib's own join skips daemon
    threads."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self._handlers: list[threading.Thread] = []

    def process_request(self, request, client_address) -> None:
        t = threading.Thread(
            target=self.process_request_thread, args=(request, client_address), daemon=True
        )
        self._handlers = [h for h in self._handlers if h.is_alive()] + [t]
        t.start()

    def server_close(self) -> None:
        super().server_close()
        for t in self._handlers:
            t.join()


class AnalyticsServer:
    """Tiny threaded HTTP server exposing the reference's endpoints.

    ``fetch``   — zero-arg callable returning the current analytics
                  snapshot as a plain ``{name: count}`` dict (normally
                  `for_store`'s call of `CountStore.range_fetch`, an
                  in-process store read; a plain callable keeps the
                  server testable without a stream). If it raises, the
                  SSE stream sends one ``event: error`` frame and
                  ends.
    ``publish`` — optional ``(name, topic) -> dict`` ingest hook
                  returning the produced event for the HTTP echo; the
                  endpoint answers 503 when absent and 500, with the
                  hook's error, when it raises.
    ``interval``— SSE poll cadence (reference: 1 s).
    """

    def __init__(
        self,
        fetch: Callable[[], dict],
        publish: Callable[[str, str | None], dict] | None = None,
        interval: float = 1.0,
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        self.fetch = fetch
        self.publish = publish
        self.interval = interval
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._stopping = threading.Event()

    @classmethod
    def for_store(cls, store, anchor=None, **server_kwargs) -> "AnalyticsServer":
        """Serve a `CountStore`: each SSE tick reads Q1 (latest window
        per page over [anchor − window, anchor]) straight from the
        store, with no Spark job. Once the query is no longer active
        the fetch raises, with the query's exception when it failed, so
        the stream reports it instead of serving the last counts."""

        def fetch() -> dict:
            if not store.query.isActive:
                raise RuntimeError(f"query is not active: {store.query.exception() or 'stopped'}")
            return store.range_fetch(anchor=anchor)

        return cls(fetch, **server_kwargs)

    # -- lifecycle ---------------------------------------------------

    def start(self) -> "AnalyticsServer":
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:  # silence per-request stderr
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                url = urlparse(self.path)
                q = parse_qs(url.query)
                try:
                    if url.path == "/":
                        body = _INDEX_HTML.encode()
                        self.send_response(200)
                        self.send_header("Content-Type", "text/html")
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                    elif url.path == "/publish":
                        if outer.publish is None:
                            self._json(503, {"error": "no publish hook configured"})
                            return
                        name = q.get("name", ["page"])[0]
                        topic = q.get("topic", [None])[0]
                        try:
                            event = outer.publish(name, topic)
                        except Exception as e:  # reported, never a dropped connection
                            self._json(500, {"error": f"{type(e).__name__}: {e}"})
                            return
                        self._json(200, event)
                    elif url.path == "/analytics":
                        # ?n=K closes after K events (test hook); the
                        # reference streams until the client disconnects
                        n = q.get("n", ["0"])[0]
                        if not (n.isascii() and n.isdigit()):
                            self._json(400, {"error": f"n must be a non-negative integer, got {n!r}"})
                            return
                        limit = int(n) or None
                        self.send_response(200)
                        self.send_header("Content-Type", "text/event-stream")
                        self.send_header("Cache-Control", "no-cache")
                        self.end_headers()
                        sent = 0
                        while not outer._stopping.is_set():
                            try:
                                snap = outer.fetch()
                            except Exception as e:  # reported, never a quiet stream
                                err = json.dumps({"error": f"{type(e).__name__}: {e}"})
                                self.wfile.write(f"event: error\ndata: {err}\n\n".encode())
                                return
                            self.wfile.write(f"data: {json.dumps(snap)}\n\n".encode())
                            self.wfile.flush()
                            sent += 1
                            if limit is not None and sent >= limit:
                                break
                            outer._stopping.wait(outer.interval)
                    else:
                        self._json(404, {"error": f"no route {url.path}"})
                except (BrokenPipeError, ConnectionResetError):
                    return  # client went away mid-stream — normal for SSE

        self._httpd = _HTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    @property
    def port(self) -> int:
        assert self._httpd is not None, "server not started"
        return self._httpd.server_address[1]

    @property
    def url(self) -> str:
        return f"http://{self._host}:{self.port}"

    def stop(self) -> None:
        """Stop serving; on return no handler is running ``fetch`` or
        can call it again. Each SSE loop re-checks ``_stopping`` every
        tick, `shutdown` ends the accept loop (whose thread is then
        joined) and `server_close` joins every handler thread."""
        self._stopping.set()
        if self._httpd is not None:
            self._httpd.shutdown()
            self._thread.join()
            self._httpd.server_close()
