"""Domain temperature / escalation / update-trigger semantics
(reference: domain_temp.c, bf_scheduler.c:537-549, 782-804)."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from aduana_spark.frontier.domain_temp import (
    domain_temperature,
    escalated_limits,
    update_due,
)

TS = dt.datetime(2026, 1, 1)


def _events(spark, rows):
    return spark.createDataFrame(
        [(d, TS + dt.timedelta(seconds=s)) for d, s in rows],
        "domain STRING, ts TIMESTAMP",
    )


def test_linear_decay_matches_reference_shape(spark):
    """test_domain_temp.c:3-28 semantics: weight 1 at the crawl
    instant, linearly decaying to 0 after the window."""
    now = (TS + dt.timedelta(seconds=100)).timestamp()
    ev = _events(spark, [("a.org", 100), ("a.org", 50), ("a.org", 0), ("b.org", 90)])
    got = {
        r["domain"]: r["temp"]
        for r in domain_temperature(ev, now=now, window_sec=100, mode="linear").collect()
    }
    # a.org: (1-0/100) + (1-50/100) + (1-100/100) = 1.0 + 0.5 + 0.0
    assert got["a.org"] == pytest.approx(1.5)
    assert got["b.org"] == pytest.approx(0.9)


def test_window_mode_counts(spark):
    now = (TS + dt.timedelta(seconds=100)).timestamp()
    ev = _events(spark, [("a.org", 100), ("a.org", 10), ("a.org", 95)])
    got = {
        r["domain"]: r["temp"]
        for r in domain_temperature(ev, now=now, window_sec=30, mode="window").collect()
    }
    assert got["a.org"] == pytest.approx(2.0)  # events at 95 and 100


def test_escalated_limits_geometric():
    """bf_scheduler.c:782-804: soft*exp(k*step), k=ln(hard/soft)/4."""
    lims = escalated_limits(0.25, 100.0, steps=5)
    assert lims[0] == pytest.approx(0.25)
    assert lims[-1] == pytest.approx(100.0)
    ratios = [lims[i + 1] / lims[i] for i in range(4)]
    assert all(r == pytest.approx(math.exp(math.log(400.0) / 4)) for r in ratios)


def test_update_due_trigger():
    """bf_scheduler.h:35-39 defaults: >=100 new pages AND >=1% growth."""
    assert not update_due(n_old=10_000, n_new=99)
    assert not update_due(n_old=100_000, n_new=500)
    assert update_due(n_old=10_000, n_new=150)
    assert update_due(n_old=0, n_new=100)


def test_streaming_ingest(spark, tmp_path):
    """File-source micro-batch ingest applies the batch MERGE."""
    import json

    from aduana_spark.streaming import StreamingIngest

    indir = tmp_path / "in"
    indir.mkdir()
    rows = [
        {"url": "a", "score": 0.5, "links": [["b", "0.9"], ["c", "0.1"]],
         "content_hash": "h1", "ts": "2026-01-01T00:00:00"},
        {"url": "b", "score": 0.2, "links": [["c", "0.3"]],
         "content_hash": "h2", "ts": "2026-01-01T00:00:01"},
    ]
    with open(indir / "batch0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    ing = StreamingIngest(spark)
    q = ing.start(str(indir), str(tmp_path / "ck"))
    q.awaitTermination(120)

    info = {r["url"]: r for r in ing.page_db.page_info.collect()}
    assert info["a"]["n_crawls"] == 1 and info["b"]["n_crawls"] == 1
    assert info["c"]["n_crawls"] == 0 and info["c"]["score"] in (0.1, 0.3)
    edges = {(r["src_url"], r["dst_url"]) for r in ing.page_db.edges.collect()}
    assert edges == {("a", "b"), ("a", "c"), ("b", "c")}


def test_streaming_domain_temperature_windows(spark, tmp_path):
    """Watermarked event-time windows over a file-sourced crawl
    stream reproduce the batch window counts."""
    import json

    from aduana_spark.streaming import streaming_domain_temperature

    indir = tmp_path / "stream_in"
    indir.mkdir()
    rows = [
        {"domain": "a.org", "ts": "2026-01-01T00:00:10"},
        {"domain": "a.org", "ts": "2026-01-01T00:00:50"},
        {"domain": "a.org", "ts": "2026-01-01T00:01:10"},
        {"domain": "b.org", "ts": "2026-01-01T00:00:30"},
    ]
    with open(indir / "b0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("domain STRING, ts TIMESTAMP")
        .json(str(indir))
    )
    agg = streaming_domain_temperature(stream, window="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("dt_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["domain"], r["window"]["start"].minute): r["temp"]
        for r in spark.sql("SELECT * FROM dt_windows").collect()
    }
    assert got == {("a.org", 0): 2, ("a.org", 1): 1, ("b.org", 0): 1}


def test_stateful_streaming_domain_temperature(spark, tmp_path):
    """applyInPandasWithState keeps the reference's decay recurrence
    (temp ← temp·max(0,1−Δ/W)+1, domain_temp.c:25-41) as per-domain
    state across micro-batches; the final temps equal a sequential
    Python replay of the same recurrence."""
    import json

    from aduana_spark.streaming import stateful_domain_temperature

    indir = tmp_path / "stateful_in"
    indir.mkdir()
    batches = [
        [("a.org", "2026-01-01T00:00:00"), ("a.org", "2026-01-01T00:00:30"),
         ("b.org", "2026-01-01T00:00:10")],
        [("a.org", "2026-01-01T00:01:00"), ("b.org", "2026-01-01T00:02:10")],
    ]
    import os as _os
    import time as _time

    now = _time.time()
    for bi, rows in enumerate(batches):
        path = indir / f"b{bi}.json"
        with open(path, "w") as f:
            for d, ts in rows:
                f.write(json.dumps({"domain": d, "ts": ts}) + "\n")
        # the file source orders batches by modification time — pin it
        _os.utime(path, (now + 10 * bi, now + 10 * bi))
    stream = (
        spark.readStream.schema("domain STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)  # force ≥2 micro-batches
        .json(str(indir))
    )
    out = stateful_domain_temperature(stream, window_sec=60.0)
    q = (
        out.writeStream.format("memory")
        .queryName("dt_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM dt_state ORDER BY last_ts"
    ).collect()
    # keep the LAST update per domain (update mode emits one row per
    # touched domain per micro-batch)
    got = {}
    for r in rows:
        got[r["domain"]] = r["temp"]

    # sequential replay of the recurrence
    def replay(ts_list, W=60.0):
        temp, last = 0.0, None
        for t in ts_list:
            if last is not None:
                temp *= max(0.0, 1.0 - (t - last) / W)
            temp += 1.0
            last = t
        return temp

    t0 = dt.datetime(2026, 1, 1).timestamp()
    # a.org crawls at +0, +30, +60; b.org at +10, +130 (gap > window)
    assert got["a.org"] == pytest.approx(replay([t0, t0 + 30, t0 + 60]))
    assert got["a.org"] == pytest.approx((1 * 0.5 + 1) * 0.5 + 1)  # 1.75
    assert got["b.org"] == pytest.approx(1.0)  # fully decayed, reheated


def test_streaming_ingest_distributed(spark, tmp_path, monkeypatch):
    """test_streaming_ingest with every micro-batch committed on Spark."""
    from aduana_spark.frontier import page_info

    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", -1)
    test_streaming_ingest(spark, tmp_path)
