"""Loopback test of the REST ingest/request server — wire-format
parity with aduana-server.py (POST /crawled, GET /request?n=)."""

from __future__ import annotations

import http.client
import json
import urllib.error
import urllib.request

import pytest


def _post(base: str, payload: bytes):
    req = urllib.request.Request(
        f"{base}/crawled",
        data=payload,
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    return urllib.request.urlopen(req, timeout=30)


def test_rest_server_loopback(spark):
    from aduana_spark.server import server_from_settings

    srv = server_from_settings(
        spark, {"SEEDS": ["https://a.org/", "https://b.org/"], "DEFAULT_REQS": 5}
    )
    with srv:
        base = srv.url
        got = json.loads(urllib.request.urlopen(f"{base}/request?n=10", timeout=30).read())
        assert set(got) == {"https://a.org/", "https://b.org/"}

        payload = {
            "url": "https://a.org/",
            "score": 0.4,
            "links": [["https://a.org/deep", 0.7]],
            "content_hash": 27348276,
        }
        resp = _post(base, json.dumps(payload).encode())
        assert resp.status == 201
        got = json.loads(urllib.request.urlopen(f"{base}/request", timeout=30).read())
        assert got == ["https://a.org/deep"]

        # reference error strings on malformed input
        try:
            _post(base, b"{not json")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"could not parse JSON" in e.read()
        try:
            _post(base, json.dumps({"score": 1.0}).encode())
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b'"url" field' in e.read()


def test_rest_server_backend_error_answers_500(spark):
    """A failed group commit surfaces on the GET that ran it as 500
    with a plain-text ERROR body naming the lost buffered pages; the
    server keeps serving afterwards."""
    from aduana_spark.api import Backend
    from aduana_spark.server import AduanaServer

    backend = Backend(spark)

    def fail(batch):
        raise OSError("disk full")

    backend.scheduler.add = fail
    with AduanaServer(backend) as srv:
        for url in ("https://a.org/", "https://b.org/"):
            assert _post(srv.url, json.dumps({"url": url}).encode()).status == 201
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"{srv.url}/request", timeout=30)
        body = err.value.read()
        assert err.value.code == 500
        assert body.startswith(b"ERROR: ") and b"2 buffered pages" in body
        assert b"disk full" in body
        del backend.scheduler.add
        got = json.loads(urllib.request.urlopen(f"{srv.url}/request", timeout=30).read())
        assert got == []


def test_rest_server_keep_alive(spark):
    """One HTTP/1.1 connection carries a GET, two POSTs and a GET; a
    404 with an unread body closes it."""
    from aduana_spark.api import Backend
    from aduana_spark.server import AduanaServer

    backend = Backend(spark)
    backend.add_seeds(["https://a.org/"])
    with AduanaServer(backend) as srv:
        host, port = srv.httpd.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=60)
        try:
            def call(method, path, body=None):
                conn.request(method, path, body=body)
                resp = conn.getresponse()
                return resp, resp.read()

            resp, data = call("GET", "/request?n=5")
            assert json.loads(data) == ["https://a.org/"] and not resp.will_close
            sock = conn.sock
            for url in ("https://a.org/", "https://a.org/1"):
                body = json.dumps({"url": url, "links": [[url + "x", 0.5]]})
                resp, _ = call("POST", "/crawled", body)
                assert resp.status == 201 and not resp.will_close
            resp, data = call("GET", "/request")
            assert sorted(json.loads(data)) == ["https://a.org/1x", "https://a.org/x"]
            assert not resp.will_close and conn.sock is sock

            resp, _ = call("POST", "/nope", json.dumps({"url": "https://a.org/"}))
            assert resp.status == 404 and resp.will_close and conn.sock is None
        finally:
            conn.close()


def test_rest_server_metrics(spark):
    """GET /metrics counts commits, GET rounds and pop time: two POSTs
    and two sequential GETs make one commit of two pages and two
    rounds of one GET each."""
    from aduana_spark.api import Backend
    from aduana_spark.server import AduanaServer

    with AduanaServer(Backend(spark)) as srv:
        for url in ("https://a.org/", "https://b.org/"):
            assert _post(srv.url, json.dumps({"url": url}).encode()).status == 201
        for _ in range(2):
            urllib.request.urlopen(f"{srv.url}/request", timeout=30).read()
        resp = urllib.request.urlopen(f"{srv.url}/metrics", timeout=30)
        assert resp.headers["Content-Type"] == "text/plain"
        lines = resp.read().decode().splitlines()
    metrics = {name: float(value) for name, value in (ln.split() for ln in lines)}
    assert list(metrics) == ["pages_buffered", "pages_committed", "commits",
                             "commit_seconds", "get_rounds", "gets_served",
                             "pop_seconds"]
    assert metrics["commit_seconds"] > 0 and metrics["pop_seconds"] > 0
    del metrics["commit_seconds"], metrics["pop_seconds"]
    assert metrics == {"pages_buffered": 0, "pages_committed": 2, "commits": 1,
                       "get_rounds": 2, "gets_served": 2}


def test_server_from_settings_scorer(spark):
    """SCORER, USE_SCORES and PAGE_RANK_DAMPING reach the backend's
    scheduler through the same wiring as BFScheduler.from_settings."""
    from aduana_spark.api import PageRankScorer
    from aduana_spark.server import server_from_settings

    srv = server_from_settings(
        spark,
        {"SCORER": PageRankScorer, "USE_SCORES": True, "PAGE_RANK_DAMPING": 0.7},
    )
    with srv:
        scorer = srv.backend.scheduler.scorer
        assert isinstance(scorer, PageRankScorer)
        assert scorer.page_db is srv.backend.page_db
        assert scorer.damping == pytest.approx(0.7)
        assert scorer.use_content_scores is True
