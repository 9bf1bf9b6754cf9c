"""The serve_frontier server process: an ``AduanaServer`` over
``api.Backend`` in its own interpreter, so the spider clients share no
GIL with the handler threads.

Protocol on stdin/stdout, one JSON object per line:
- after start-up it prints ``{"port": ..., "session_start_s": ...}``;
- ``"stats"`` prints the backend call records and layer counters;
- ``"quit"`` (or EOF) closes the server, stops Spark and exits.

Run with ``--trace 1`` to wrap the backend in timing spans and give
every backend call its own Spark job group.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402


class TimedBackend:
    """The ``Backend`` the server calls, timed from outside. Records
    (kind, key, start, end) per call; the key (crawled URL, or the
    tuple of served URLs) lets the client match each HTTP round trip
    to its backend time."""

    def __init__(self, backend, tracer: harness.Tracer):
        self._backend = backend
        self._tracer = tracer
        self._lock = threading.Lock()
        self.calls: list[dict] = []

    def _record(self, kind, key, t0, t1, span) -> None:
        with self._lock:
            self.calls.append({"kind": kind, "key": key, "start": t0, "end": t1,
                               "trace": span["trace"] if span else None})

    def page_crawled(self, url, links, score=0.0, content_hash=None):
        t0 = time.time()
        with self._tracer.span("server.backend", trace=url) as span:
            self._backend.page_crawled(url, links, score=score, content_hash=content_hash)
        self._record("post", url, t0, time.time(), span)

    def get_next_requests(self, n):
        t0 = time.time()
        with self._tracer.span("server.backend", trace=f"get{t0}") as span:
            urls = self._backend.get_next_requests(n)
        self._record("get", urls, t0, time.time(), span)
        return urls


def _wrap(obj, attr: str, layer: str, tracer: harness.Tracer) -> None:
    """Time one api method on this instance under its own span."""
    fn = getattr(obj, attr)

    def call(*a, **kw):
        with tracer.span(layer):
            return fn(*a, **kw)

    setattr(obj, attr, call)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seeds", required=True, help="JSON list of seed URLs")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from aduana_spark.api import Backend
    from aduana_spark.server import AduanaServer

    # protocol on a private copy of stdout; the JVM and anything else
    # that writes to fd 1 goes to stderr instead
    proto = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    scratch = harness.Scratch(args.scratch)
    spark = None
    try:
        t0 = time.time()
        spark = harness.start_spark(scratch, "perfbench-serve")
        session_start_s = time.time() - t0
        tracer = harness.Tracer(bool(args.trace), spark)
        backend = Backend(spark)
        if tracer.enabled:
            _wrap(backend.page_db, "add_batch", "api.add_batch", tracer)
            _wrap(backend.scheduler, "requests", "bf_scheduler.requests", tracer)
        backend.add_seeds(json.loads(args.seeds))
        # the timing wrapper is passed in for traced runs only
        timed = TimedBackend(backend, tracer)
        server = AduanaServer(timed if tracer.enabled else backend).serve()
        print(json.dumps({"port": server.httpd.server_address[1],
                          "session_start_s": session_start_s,
                          "conf": harness.effective_conf(spark)}), file=proto, flush=True)
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "stats":
                tracer.collect_jobs()
                out = {"calls": timed.calls, "spans": tracer.spans}
                if tracer.enabled:
                    out["page_info_rows"] = backend.page_db.page_info.count()
                    out["schedule_rows"] = backend.scheduler.schedule.count()
                print(json.dumps(out), file=proto, flush=True)
            elif cmd == "quit":
                break
        server.close()
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        scratch.close()


if __name__ == "__main__":
    sys.exit(main())
