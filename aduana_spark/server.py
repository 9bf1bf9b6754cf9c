"""REST ingest/request server — wire-format parity with
``aduana-server.py`` (/root/reference/aduana/bin/aduana-server.py:79-151,
format doc/python.rst:203-247):

- ``POST /crawled`` — one crawled page as JSON
  ``{"url": ..., "score": 0.5, "links": [[url, score], ...],
  "content_hash": 27348276}``; only ``url`` is mandatory. 201 on
  success, 400 with a plain-text ``ERROR: ...`` body on bad input
  (matching the reference's error strings).
- ``GET /request?n=42`` — JSON list of up to n frontier URLs.
- ``GET /metrics`` — plain text, one ``name value`` line per counter of
  ``Backend.metrics()``: ``pages_buffered``, ``pages_committed``,
  ``commits``, ``commit_seconds``, ``get_rounds``, ``gets_served`` and
  ``pop_seconds``.

The ``Backend`` group-commits crawled pages and serves GETs in rounds
(see ``api.Backend``):

- 201 means "accepted into the commit buffer", not yet merged.
- A page's state becomes visible at the next ``GET /request`` (or
  ``Backend.flush()``), which commits every page buffered since the
  previous one as one batch before it pops the frontier.
- The ``GET /request`` calls that wait while the backend's Spark work
  runs are served together as one round when it ends: one commit and
  one frontier pop, each GET getting its slice in arrival order.
  ``gets_served / get_rounds`` on ``/metrics`` is the GETs per round.
- A failed commit loses the buffered pages, just as a process crash
  loses the in-memory ``page_info``. Every GET of the round that ran
  it gets 500 with a plain-text ``ERROR: ...`` body stating how many
  buffered pages the commit held; any other backend failure also
  answers 500.

The server holds no lock of its own: the backend serializes its
Spark work, and a POST that only buffers does not wait for it.

Connections are HTTP/1.1 keep-alive, so a spider's GET and its POSTs
share one socket and one handler thread. Every response carries
``Content-Length``; a 404 closes the connection, as its request body
is left unread.

The reference serves falcon+gevent; here it is a stdlib
``http.server`` facade over the Frontera ``Backend`` (api.py) — the
server is explicitly marked optional for parity in SURVEY.md, and the
engine behind it is the same frontier view either way. At production
scale this endpoint is a thin stateless shim in front of the Iceberg
tables; a fleet of them can share one Spark session per pod.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

DEFAULT_REQS = 10  # aduana-server.py Settings.DEFAULT_REQS

_log = logging.getLogger(__name__)


def _make_handler(backend, default_reqs: int):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # headers and body go out as two writes: with Nagle on, the body
        # of a reply on a reused connection waits ~40 ms for the
        # client's delayed ACK of the headers
        disable_nagle_algorithm = True

        def log_message(self, *a):  # quiet test runs
            pass

        def _reply(self, code: int, content_type: str, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _error(self, message: str, code: int = 400) -> None:
            self._reply(code, "text/plain", message.encode())

        def _backend_failed(self, e: Exception) -> None:
            _log.exception("backend call failed")
            self._error(f"ERROR: {e}", code=500)

        def do_POST(self):
            if urlparse(self.path).path.rstrip("/") not in ("", "/crawled"):
                self.send_error(404)
                return
            length = int(self.headers.get("Content-Length", "0"))
            try:
                data = json.loads(self.rfile.read(length))
            except ValueError:
                self._error("ERROR: could not parse JSON")
                return
            if "url" not in data:
                self._error('ERROR: could not find "url" field in request')
                return
            try:
                links = [(lu, float(sc)) for lu, sc in data.get("links", [])]
                score = float(data.get("score", 0.0))
                content_hash = data.get("content_hash", None)
                chash = (
                    str(int(content_hash)).encode() if content_hash else None
                )
            except (TypeError, ValueError) as e:
                self._error("ERROR: Incorrect data inside CrawledPage. " + str(e))
                return
            try:
                backend.page_crawled(
                    data["url"], links, score=score, content_hash=chash
                )
            except Exception as e:
                self._backend_failed(e)
                return
            self.send_response(201)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_GET(self):
            parsed = urlparse(self.path)
            path = parsed.path.rstrip("/")
            if path == "/metrics":
                try:
                    metrics = backend.metrics()
                except Exception as e:
                    self._backend_failed(e)
                    return
                text = "".join(f"{name} {value}\n" for name, value in metrics.items())
                self._reply(200, "text/plain", text.encode())
                return
            if path not in ("", "/request"):
                self.send_error(404)
                return
            qs = parse_qs(parsed.query)
            try:
                n = int(qs.get("n", [default_reqs])[0])
            except ValueError:
                self._error("ERROR: Incorrect number of requests")
                return
            try:
                urls = backend.get_next_requests(n)
            except Exception as e:
                self._backend_failed(e)
                return
            self._reply(
                200, "application/json", json.dumps(urls, ensure_ascii=True).encode()
            )

    return Handler


class AduanaServer:
    """``serve()``/``close()`` lifecycle around ThreadingHTTPServer.
    Port 0 picks an ephemeral port (tests); ``url`` is the base URL."""

    def __init__(self, backend, address: str = "127.0.0.1", port: int = 0,
                 default_reqs: int = DEFAULT_REQS):
        self.backend = backend
        self.httpd = ThreadingHTTPServer(
            (address, port), _make_handler(backend, default_reqs)
        )
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self.httpd.server_address[:2]
        return f"http://{host}:{port}"

    def serve(self) -> "AduanaServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "AduanaServer":
        return self.serve()

    def __exit__(self, *exc) -> None:
        self.close()


def server_from_settings(spark, settings: dict) -> AduanaServer:
    """Settings keys of aduana-server.py (SCORER, USE_SCORES,
    PAGE_RANK_DAMPING, SOFT/HARD_CRAWL_LIMIT, SEEDS, DEFAULT_REQS,
    ADDRESS, PORT)."""
    from aduana_spark.api import Backend, scorer_from_settings

    backend = Backend(spark)
    backend.scheduler.scorer = scorer_from_settings(settings, backend.page_db)
    soft = settings.get("SOFT_CRAWL_LIMIT", None)
    hard = settings.get("HARD_CRAWL_LIMIT", None)
    if soft is not None and hard is not None:
        backend.scheduler.set_crawl_rate(soft, hard)
    seeds = settings.get("SEEDS", None)
    if seeds:
        if isinstance(seeds, str):
            with open(seeds) as fh:
                seeds = [ln.strip() for ln in fh if ln.strip()]
        backend.add_seeds(list(seeds))
    return AduanaServer(
        backend,
        address=settings.get("ADDRESS", "127.0.0.1"),
        port=settings.get("PORT", 0),
        default_reqs=settings.get("DEFAULT_REQS", DEFAULT_REQS),
    )
