"""A seeded listing site on localhost: ``GET /listings?page=N`` returns
page N of the current day's listing, one card per page.  The server
counts what it served, so the scrape layer's request count, busy time
and errors are measured where the work happens."""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class ListingServer:
    def __init__(self):
        self.pages: list[str] = []
        self.requests = 0
        self.errors = 0
        self.busy_s = 0.0
        self._lock = threading.Lock()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="listing-server", daemon=True)

    @property
    def base_url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}/listings"

    def counters(self) -> tuple[int, int, float]:
        with self._lock:
            return self.requests, self.errors, self.busy_s

    def _handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                t0 = time.perf_counter()
                status, body = 404, b"not found"
                try:
                    url = urlparse(self.path)
                    page = int(parse_qs(url.query).get("page", ["0"])[0])
                    if url.path == "/listings" and 1 <= page <= len(server.pages):
                        status, body = 200, server.pages[page - 1].encode("utf-8")
                except ValueError:
                    status, body = 400, b"bad page"
                self.send_response(status)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with server._lock:
                    server.requests += 1
                    server.errors += status != 200
                    server.busy_s += time.perf_counter() - t0

            def log_message(self, *args):  # keep stdout for the result line
                pass

        return Handler

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
        return False
