"""serve_frontier: closed-loop spider clients against the REST server.

``nproc`` client threads each loop: ``GET /request`` without ``n``, so
the server's ``DEFAULT_REQS`` (10, as in aduana's own server) sets the
batch, then one ``POST /crawled`` per returned URL carrying that page's
outlinks from the seeded link universe. The loop is closed because
spiders wait for replies. The server (``server_proc.py``) runs in its
own process.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time

from perfbench import harness, inputs

_SERVER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "server_proc.py")


class ServeFrontier:
    def __init__(self, scratch: harness.Scratch, seed: int, trace: bool):
        self.scratch = scratch
        self.seed = seed
        self.trace = trace
        self.proc = None
        self.ops: list[dict] = []
        self.served: list[str] = []
        self.posted_links: set[str] = set()
        self.failures: list[str] = []
        self._lock = threading.Lock()

    # ---------------------------------------------------------- set-up

    def setup(self) -> None:
        from aduana_spark.server import DEFAULT_REQS

        t0 = time.time()
        self.universe = inputs.LinkUniverse(self.seed)
        # enough seeds for every spider's first GET to get a full batch:
        # with fewer, the spiders left without URLs spin on empty GETs
        # until the first POSTs land, and how that start-up race goes
        # moves the window's figures from run to run
        self.seeds = self.universe.seeds(harness.nproc() * DEFAULT_REQS)
        self.gen_s = time.time() - t0
        self.datagen_rows = len(self.seeds)
        self.sizes = {"universe_pages": self.universe.n, "seeds": len(self.seeds),
                      "links_per_page": inputs.SERVE_LINKS, "clients": harness.nproc(),
                      "urls_per_get": DEFAULT_REQS}
        self.proc = subprocess.Popen(
            [sys.executable, _SERVER, "--scratch", "serve",
             "--seeds", json.dumps(self.seeds), "--trace", str(int(self.trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        hello = json.loads(self._readline())
        self.port = hello["port"]
        self.session_start_s = hello["session_start_s"]
        self.conf = hello["conf"]
        # warm-up, not measured: one GET and its POST run both request
        # paths once, so the first requests of the window are not cold
        self._cycle(time.time() + 60, n=1, record=False)

    def _readline(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"server process exited with {self.proc.wait()}")
        return line

    # ------------------------------------------------------------ load

    def _http(self, conn, method, path, body=None):
        t0 = time.time()
        conn.request(method, path, body=body,
                     headers={"Content-Type": "application/json"} if body else {})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data, t0, time.time()

    def _cycle(self, deadline: float, n: int | None = None, record: bool = True) -> None:
        """One spider cycle; ``n`` None leaves the batch size to the
        server. Past ``deadline`` no further request is sent."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            path = "/request" if n is None else f"/request?n={n}"
            status, data, t0, t1 = self._http(conn, "GET", path)
            urls = json.loads(data) if status == 200 else []
            ops = [{"kind": "get", "key": urls, "start": t0, "end": t1,
                    "ok": status == 200}]
            for url in urls:
                if time.time() >= deadline:
                    break
                links = self.universe.outlinks(url)
                body = json.dumps({"url": url, "links": [[u, s] for u, s in links]})
                status, _, t0, t1 = self._http(conn, "POST", "/crawled", body)
                ops.append({"kind": "post", "key": url, "start": t0, "end": t1,
                            "ok": status == 201})
                with self._lock:
                    self.posted_links.update(u for u, _ in links)
        finally:
            conn.close()
        with self._lock:
            self.served.extend(urls)
            if record:
                self.ops.extend(ops)
            self.failures += [f"{o['kind']} {o['key']} failed" for o in ops if not o["ok"]]

    def run(self, seconds: float) -> float:
        """Drive the closed loop for ``seconds``; returns the wall from
        the first request to the last reply. ``cpu_s`` is the server
        process tree's CPU seconds over the same span."""
        deadline = time.time() + seconds
        cpu0 = harness.tree_cpu_s(self.proc.pid)
        t0 = time.time()

        def client():
            while time.time() < deadline:
                try:
                    self._cycle(deadline=deadline)
                except (OSError, http.client.HTTPException, ValueError) as e:
                    with self._lock:
                        self.ops.append({"kind": "error", "key": repr(e), "ok": False})
                        self.failures.append(f"client: {e!r}")

        threads = [threading.Thread(target=client) for _ in range(harness.nproc())]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.time() - t0
        self.cpu_s = harness.tree_cpu_s(self.proc.pid) - cpu0
        return wall

    # ---------------------------------------------------------- checks

    def check(self) -> list[str]:
        failed = list(self.failures)
        if len(set(self.served)) != len(self.served):
            failed.append("a URL was served twice")
        allowed = set(self.seeds) | self.posted_links
        stray = [u for u in self.served if u not in allowed]
        if stray:
            failed.append(f"{len(stray)} served URLs were never seeded or discovered")
        return failed

    def stats(self) -> dict:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self._readline())

    def close(self) -> None:
        proc, self.proc = self.proc, None
        if proc is None:
            return
        workers = harness.descendants(proc.pid)
        try:
            proc.stdin.write("quit\n")
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
        harness.wait_gone(workers, timeout=15)
