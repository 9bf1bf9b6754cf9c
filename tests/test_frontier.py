"""Scheduler fixtures from /root/reference/lib/test/test_bf_scheduler.c
and page-info merge semantics from test_pagedb.c:40-147."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aduana_spark.frontier import page_info
from aduana_spark.frontier.bf_scheduler import BFSchedulerView, frontier_topk
from aduana_spark.frontier.freq_scheduler import (
    FreqRule,
    build_freq_table,
    next_due_view,
)
from aduana_spark.frontier.page_info import (
    PageDB,
    empty_page_info,
    ingest_crawl_batch,
    scheduled,
)

TS = dt.datetime(2026, 1, 1)

BATCH_SCHEMA = (
    "crawl_order INT, url STRING, "
    "links ARRAY<STRUCT<url: STRING, score: DOUBLE>>, "
    "page_score DOUBLE, content_hash BINARY, ts TIMESTAMP"
)


def _batch(spark, order, url, links, score=0.0, chash=b"h", ts=TS):
    return spark.createDataFrame(
        [(order, url, links, score, chash, ts)], schema=BATCH_SCHEMA
    )


def _page_db(spark, page_info):
    """A PageDB holding a hand-built page-info table."""
    db = PageDB(spark)
    db.page_info = page_info
    return db


#: the hand-drawn crawl of test_bf_scheduler.c:23-56
CRAWL = [
    ("1", [("2", 0.0), ("3", 0.1)]),
    ("2", [("4", 1.0)]),
    ("4", [("3", 0.2), ("5", 0.1)]),
    ("5", [("6", 0.0), ("7", 0.5), ("8", 0.5)]),
    ("8", [("7", 0.2), ("9", 0.4)]),
    ("7", []),
]


def test_bf_scheduler_pop_order(spark):
    """test_bf_scheduler.c:96-111: request(2) → [9, 3]; request(4) → [6]."""
    sch = BFSchedulerView(spark)
    for i, (url, links) in enumerate(CRAWL):
        sch.add(_batch(spark, i, url, links, ts=TS + dt.timedelta(seconds=i)))
    assert sch.requests(2) == ["9", "3"]
    assert sch.requests(4) == ["6"]
    assert sch.last_pop.executor == _pop_executor()


def _pop_executor():
    """The pop executor a crawl-sized store gets under the
    ``LOCAL_MAX_ROWS`` in force (``test_frontier_distributed`` patches
    it to -1)."""
    return "local" if page_info.LOCAL_MAX_ROWS >= 0 else "spark"


def test_bf_scheduler_restart_stability(spark):
    """test_bf_scheduler.c:248-314: 100 links score i/100; request(25)
    → 99..75, then (fresh view over the same persisted state) → 74..50."""
    sch = BFSchedulerView(spark)
    links = [(f"http://www.foobar.com/page_{i}", i / 100.0) for i in range(100)]
    sch.add(_batch(spark, 0, "http://www.foobar.com", links))
    got1 = sch.requests(25)
    assert got1 == [f"http://www.foobar.com/page_{i}" for i in range(99, 74, -1)]
    # "restart": rebuild the view object from the persisted tables
    sch2 = BFSchedulerView(spark, page_db=sch.page_db)
    sch2.served = sch.served
    got2 = sch2.requests(25)
    assert got2 == [f"http://www.foobar.com/page_{i}" for i in range(74, 49, -1)]
    assert sch2.last_pop.executor == _pop_executor()


def test_page_info_merge_semantics(spark):
    """test_pagedb.c:40-147: yahoo crawled once, bing twice with a
    changed hash, google only linked."""
    pi = empty_page_info(spark)
    b1 = _batch(
        spark,
        0,
        "www.yahoo.com",
        [("www.google.com", 1.1)],
        score=0.5,
        chash=b"\x10\x00",
    )
    pi = ingest_crawl_batch(pi, b1)
    b2 = _batch(spark, 1, "www.bing.com", [], score=0.2, chash=b"\x20\x00")
    pi = ingest_crawl_batch(pi, b2)
    b3 = _batch(
        spark, 2, "www.bing.com", [], score=0.2, chash=b"\x30\x00",
        ts=TS + dt.timedelta(seconds=10),
    )
    pi = ingest_crawl_batch(pi, b3)

    rows = {r["url"]: r for r in pi.collect()}
    assert rows["www.yahoo.com"]["n_crawls"] == 1
    assert rows["www.yahoo.com"]["n_changes"] == 0
    assert rows["www.yahoo.com"]["score"] == pytest.approx(0.5)
    assert rows["www.google.com"]["n_crawls"] == 0
    assert rows["www.google.com"]["score"] == pytest.approx(1.1)
    assert rows["www.google.com"]["linked_from"] == "www.yahoo.com"
    assert rows["www.google.com"]["depth"] == 1
    assert rows["www.bing.com"]["n_crawls"] == 2
    assert rows["www.bing.com"]["n_changes"] == 1


def test_frontier_depth_gate(spark):
    """F1: max_crawl_depth excludes deep pages from the frontier."""
    sch = BFSchedulerView(spark, max_depth=1)
    sch.add(_batch(spark, 0, "a", [("b", 0.9)]))
    sch.add(_batch(spark, 1, "b", [("c", 1.0)]))  # c at depth 2
    assert sch.requests(10) == ["b"] or sch.requests(10) == []
    # b was served; c (depth 2) must never appear
    assert "c" not in sch.requests(10)


def test_frontier_rate_limit_gate(spark):
    """F2: per-domain temperature above the crawl limit excludes the
    domain's pages."""
    pi = empty_page_info(spark)
    batch = _batch(
        spark,
        0,
        "https://seed.org/",
        [("https://hot.org/a", 0.9), ("https://cold.org/b", 0.5)],
    )
    pi = ingest_crawl_batch(pi, batch)
    sched = scheduled(pi)
    rate = spark.createDataFrame(
        [("hot.org", 5.0), ("cold.org", 0.0)], "domain STRING, temp DOUBLE"
    )
    got = [
        r["url"]
        for r in frontier_topk(
            sched, pi, 10, domain_rate=rate, crawl_limit=1.0
        ).collect()
    ]
    assert got == ["https://cold.org/b"]


def test_freq_scheduler_next_due(spark):
    """T3/F7: earliest-deadline-first with margin gate and 1/freq
    deadlines."""
    rows = [
        # url, first, last, n_changes, n_crawls
        ("https://a.com/x", TS, TS + dt.timedelta(seconds=100), 4, 5),
        ("https://b.com/y", TS, TS + dt.timedelta(seconds=100), 0, 2),
        ("_seed_0", TS, TS, 0, 1),
        ("https://never.com", None, None, 0, 0),
    ]
    pi = spark.createDataFrame(
        [
            (u, None, 0, f, l, nc, ncr, 0.0, None)
            for (u, f, l, nc, ncr) in rows
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    ft = build_freq_table(pi, freq_default=0.01)
    freqs = {r["url"]: r["freq"] for r in ft.collect()}
    # a.com: rate (4+1)/100 = 0.05; b.com: 0 changes → est 0.01 default
    assert set(freqs) == {"https://a.com/x", "https://b.com/y"}
    assert freqs["https://a.com/x"] == pytest.approx(0.05)
    assert freqs["https://b.com/y"] == pytest.approx(0.01)

    now = (TS + dt.timedelta(seconds=100)).timestamp() + 50
    due = next_due_view(ft, 10, now=now, margin=0.1)
    urls = [r["url"] for r in due.collect()]
    # a.com due after 1/0.05 = 20s (margin gate 18.2s) → served;
    # b.com due after 100s (gate 90.9s) → not yet at +50s
    assert urls == ["https://a.com/x"]


def test_freq_spec_first_match_wins(spark):
    rules = [
        FreqRule(r"https://.*", rate_multiplier=2.0),
        FreqRule(r"http://www\..*", fixed_interval=200.0),
        FreqRule(r".*", fixed_interval=500.0),
    ]
    pi = spark.createDataFrame(
        [
            ("https://a.com", None, 0, TS, TS + dt.timedelta(seconds=100), 9, 10, 0.0, None),
            ("http://www.b", None, 0, TS, TS + dt.timedelta(seconds=100), 0, 1, 0.0, None),
            ("http://c.com", None, 0, TS, TS + dt.timedelta(seconds=100), 0, 1, 0.0, None),
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    ft = build_freq_table(pi, rules=rules)
    freqs = {r["url"]: r["freq"] for r in ft.collect()}
    assert freqs["https://a.com"] == pytest.approx(2.0 * 0.1)  # 2 × (9+1)/100
    assert freqs["http://www.b"] == pytest.approx(1 / 200.0)
    assert freqs["http://c.com"] == pytest.approx(1 / 500.0)


def test_parse_freq_spec():
    from aduana_spark.frontier.freq_scheduler import parse_freq_spec

    rules = parse_freq_spec(
        ["https://.* x0.001", r"http://www\..* 200.0", ".* 500.0", "malformed"]
    )
    assert len(rules) == 3
    assert rules[0].rate_multiplier == pytest.approx(0.001)
    assert rules[1].fixed_interval == pytest.approx(200.0)
    assert rules[2].fixed_interval == pytest.approx(500.0)


def test_frontera_backend_flow(spark):
    from aduana_spark.api import Backend

    b = Backend(spark)
    b.add_seeds(["https://a.org/", "https://b.org/"], scores=[0.9, 0.5])
    got = b.get_next_requests(10)
    assert got == ["https://a.org/", "https://b.org/"]
    b.page_crawled("https://a.org/", [("https://a.org/deep", 0.7)], score=0.4)
    assert b.get_next_requests(10) == ["https://a.org/deep"]
    # seeds excluded from page-state views (F4)
    from aduana_spark.frontier.page_info import is_seed_col

    seeds = b.page_db.page_info.where(is_seed_col("url")).count()
    assert seeds == 1


#: one arrival sequence for the group-commit equivalence test. Between
#: the first two GETs, c.org/ arrives while a.org/, which links to it,
#: is still buffered (it must take depth 2 and linked_from a.org/, so
#: c.org/1 stays past max_depth), b.org/ is crawled twice (n_crawls
#: must reach 2), and seeds arrive between POSTs
GROUP_COMMIT_OPS = [
    ("seeds", ["https://a.org/", "https://b.org/"]),
    ("get", 2),
    ("post", "https://a.org/", [("https://a.org/1", 0.9), ("https://c.org/", 0.5)]),
    ("post", "https://c.org/", [("https://c.org/1", 0.7)]),
    ("post", "https://b.org/", [("https://b.org/1", 0.8), ("https://a.org/1", 0.2)]),
    ("post", "https://b.org/", [("https://b.org/2", 0.6)]),
    ("seeds", ["https://d.org/"]),
    ("post", "https://a.org/1", [("https://d.org/1", 0.3)]),
    ("get", 3),
    ("post", "https://d.org/", [("https://d.org/1", 0.4), ("https://e.org/", 0.1)]),
    ("get", 5),
]


def test_backend_group_commit_matches_one_at_a_time(spark):
    """Group commit in Backend leaves the page state, schedule and pop
    order of ingesting every page alone through
    ``scheduler.add(page_db.page_batch(p))`` — with a depth gate and a
    crawl rate armed."""
    from aduana_spark.api import Backend, CrawledPage

    def rows(df):
        return df.orderBy(*df.columns).collect()

    def drive(b, post):
        b.scheduler.set_crawl_rate(1.0, 4.0)
        gets = []
        for op, *args in GROUP_COMMIT_OPS:
            if op == "seeds":
                b.add_seeds(*args)
            elif op == "get":
                gets.append(b.get_next_requests(*args))
            else:
                post(b, *args)
        return gets

    def post_alone(b, url, links):
        b.scheduler.add(b.page_db.page_batch(CrawledPage(url, links)))

    grouped, single = Backend(spark, max_depth=2), Backend(spark, max_depth=2)
    got = drive(grouped, Backend.page_crawled)
    assert got == drive(single, post_alone)
    # c.org/1 and d.org/1 sit at depth 3, past max_depth
    assert got == [
        ["https://b.org/", "https://a.org/"],
        ["https://d.org/", "https://b.org/1", "https://b.org/2"],
        ["https://e.org/"],
    ]
    assert rows(grouped.page_db.page_info) == rows(single.page_db.page_info)
    assert rows(grouped.scheduler.schedule) == rows(single.scheduler.schedule)


def test_backend_commit_buffer_bounded(spark, monkeypatch):
    """At MAX_PENDING buffered pages, page_crawled commits inline."""
    from aduana_spark.api import Backend

    monkeypatch.setattr(Backend, "MAX_PENDING", 3)
    b = Backend(spark)
    urls = [f"https://s{i}.org/" for i in range(7)]
    held = []
    for u in urls:
        b.page_crawled(u, [(u + "x", 0.5)])
        held.append(len(b._pending))
    assert max(held) <= 3
    b.flush()
    crawled = b.page_db.page_info.where(F.col("n_crawls") == 1).select("url")
    assert sorted(r["url"] for r in crawled.collect()) == urls


def test_backend_concurrent_posts_lose_nothing(spark, monkeypatch):
    """Posting threads racing the inline commits: every page lands."""
    import sys
    import threading

    from aduana_spark.api import Backend

    monkeypatch.setattr(Backend, "MAX_PENDING", 16)
    b = Backend(spark)
    urls = [[f"https://t{t}.org/{i}" for i in range(10)] for t in range(8)]

    def post(mine):
        for u in mine:
            b.page_crawled(u, [("https://hub.org/", 0.1)])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=post, args=(m,)) for m in urls]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    b.flush()
    crawled = b.page_db.page_info.where(F.col("n_crawls") == 1).select("url")
    assert sorted(r["url"] for r in crawled.collect()) == sorted(sum(urls, []))


#: state before the round tests' GETs: seeds at depth 1, then a.org/1
#: (depth 2) is served and crawled, so its links sit at depth 3, past
#: max_depth 2
ROUND_SETUP_OPS = [
    ("seeds", ["https://a.org/", "https://b.org/", "https://c.org/"]),
    ("get", 3),
    ("post", "https://a.org/", [("https://a.org/1", 0.8)]),
    ("get", 1),
]

#: posts the round commits. Domain temperatures (one per crawl, all at
#: one ts) come out a.org 2, b.org 1, c.org 3, d.org 0, so under a crawl
#: rate of (1.0, 4.0) the pop escalates through three limits
ROUND_POSTS = [
    ("https://a.org/1", [("https://a.org/deep", 0.99), ("https://b.org/deep", 0.98)]),
    ("https://b.org/", [("https://b.org/1", 0.5), ("https://d.org/", 0.3),
                        ("https://a.org/3", 0.6)]),
    ("https://c.org/", [("https://c.org/1", 0.9), ("https://c.org/2", 0.85),
                        ("https://c.org/3", 0.2)]),
    ("https://c.org/x", [("https://c.org/4", 0.88)]),
    ("https://c.org/y", []),
]


def _round_backend(spark):
    from aduana_spark.api import Backend

    b = Backend(spark, max_depth=2)
    b.scheduler.set_crawl_rate(1.0, 4.0)
    for op, *args in ROUND_SETUP_OPS:
        if op == "seeds":
            b.add_seeds(*args)
        elif op == "get":
            b.get_next_requests(*args)
        else:
            b.page_crawled(*args)
    for url, links in ROUND_POSTS:
        b.page_crawled(url, links)
    return b


def _gets_in_one_round(b, ns):
    """Queue one GET per n while holding the Spark lock, each queued
    before the next starts; returns each GET's list or exception."""
    import threading
    import time

    out = {}

    def get(i, n):
        try:
            out[i] = b.get_next_requests(n)
        except Exception as e:
            out[i] = e

    threads = []
    with b._spark_lock:
        for i, n in enumerate(ns):
            threads.append(threading.Thread(target=get, args=(i, n)))
            threads[-1].start()
            deadline = time.time() + 60
            while len(b._queued) < i + 1 and time.time() < deadline:
                time.sleep(0.01)
            assert len(b._queued) == i + 1
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    return [out[i] for i in range(len(ns))]


def test_backend_round_matches_sequential_gets(spark):
    """GETs queued behind the Spark lock are served as one round: one
    commit and one ``scheduler.requests`` call, whose slices equal the
    answers of the same GETs run one after another — with a depth gate
    and a crawl rate armed."""
    def rows(df):
        return df.orderBy(*df.columns).collect()

    def counted(fn, calls):
        def call(*a, **kw):
            calls.append(a)
            return fn(*a, **kw)
        return call

    ns = [2, 3, 1]
    rounded, sequential = _round_backend(spark), _round_backend(spark)
    adds, pops = [], []
    rounded.scheduler.add = counted(rounded.scheduler.add, adds)
    rounded.scheduler.requests = counted(rounded.scheduler.requests, pops)
    got = _gets_in_one_round(rounded, ns)
    assert got == [sequential.get_next_requests(n) for n in ns]
    assert got == [
        ["https://b.org/1", "https://d.org/"],
        ["https://a.org/3", "https://c.org/1", "https://c.org/4"],
        ["https://c.org/2"],
    ]
    assert (len(adds), pops) == (1, [(6,)])
    assert rounded.scheduler.last_pop.executor == _pop_executor()
    assert rounded.metrics()["get_rounds"] == 3  # two setup GETs + this round
    assert rounded.metrics()["gets_served"] == 5
    assert rows(rounded.page_db.page_info) == rows(sequential.page_db.page_info)
    assert rows(rounded.scheduler.schedule) == rows(sequential.scheduler.schedule)


def test_backend_round_error_reaches_every_get(spark):
    """A pop that raises fails every GET of its round; none is left
    waiting and the next GET is served."""
    b = _round_backend(spark)

    def fail(n):
        raise OSError("pop failed")

    b.scheduler.requests = fail
    got = _gets_in_one_round(b, [2, 3, 1])
    assert all(isinstance(e, OSError) and "pop failed" in str(e) for e in got)
    del b.scheduler.requests
    assert b.get_next_requests(2) == ["https://b.org/1", "https://d.org/"]


def test_backend_releases_cached_batches(spark):
    """Commits, seed ingest and pops leave nothing cached behind."""
    from aduana_spark.api import Backend

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    b = Backend(spark)
    b.scheduler.set_crawl_rate(1.0, 4.0)
    b.add_seeds(["https://a.org/", "https://b.org/"])
    for _ in range(3):
        for url in b.get_next_requests(2):
            b.page_crawled(url, [(url + "x", 0.5), (url + "y", 0.4)])
    assert cache.isEmpty()


def test_backend_commits_persist_nothing(spark, monkeypatch):
    """Seed ingest, commits and pops of a Backend persist no DataFrame:
    a commit takes the Arrow rows behind its handed batch and does not
    cache the batch."""
    from aduana_spark.api import Backend

    frame = type(spark.range(1))  # the session's concrete DataFrame class
    calls = []
    for name in ("persist", "cache"):
        def counted(self, *a, _fn=getattr(frame, name), **kw):
            calls.append(self)
            return _fn(self, *a, **kw)
        monkeypatch.setattr(frame, name, counted)
    b = Backend(spark)
    b.add_seeds(["https://a.org/", "https://b.org/"])
    for _ in range(3):
        for url in b.get_next_requests(2):
            b.page_crawled(url, [(url + "x", 0.5), (url + "y", 0.4)])
    b.flush()
    assert b.page_db.last_commit.executor == "local"
    assert calls == []


def test_caller_cached_batch_stays_cached(spark):
    """A batch the caller cached is still cached after ingest."""
    from pyspark import StorageLevel

    from aduana_spark.api import BFScheduler, CrawledPage, PageDB

    db = PageDB(spark)
    sched = BFScheduler(spark, page_db=db)
    batch = db.pages_batch([CrawledPage("https://a.org/", [("https://a.org/1", 0.5)])])
    batch.persist()
    try:
        sched.add(batch)
        assert batch.is_cached and batch.storageLevel != StorageLevel.NONE
    finally:
        batch.unpersist()


def test_one_ingest_path(spark):
    """PageDB.add_batch, BFSchedulerView.add and FreqSchedulerView.add
    apply a crawl batch the same way: equal page state, equal edge
    log, and no cached batch left behind."""
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    later = TS + dt.timedelta(seconds=10)
    batches = [
        _batch(spark, 0, "s", [("a", 0.5), ("b", 0.4)]),
        # "b" is already known: it keeps the link from "s"
        _batch(spark, 1, "a", [("b", 0.9), ("c", 0.3)], ts=TS + dt.timedelta(seconds=1)),
        # repeat crawl of "s" with a changed content hash
        _batch(spark, 2, "s", [("a", 0.1)], chash=b"h2", ts=later),
    ]
    db, bf, fs = PageDB(spark), BFSchedulerView(spark), FreqSchedulerView(spark)
    for add in (db.add_batch, bf.add, fs.add):
        for batch in batches:
            add(batch)
        assert cache.isEmpty()

    def rows(df):
        return sorted(map(tuple, df.collect()))

    info = {r["url"]: r for r in db.page_info.collect()}
    assert (info["s"]["n_crawls"], info["s"]["n_changes"]) == (2, 1)
    assert info["s"]["last_crawl"] == later
    assert (info["b"]["linked_from"], info["b"]["score"]) == ("s", 0.4)
    assert info["c"]["depth"] == 2
    for store in (bf.page_db, fs.page_db):
        assert rows(store.page_info) == rows(db.page_info)
        assert rows(store.edges) == rows(db.edges)
    assert db.edges.count() == 5


def test_freq_serving_ratios(spark):
    """Statistical property (reference test_freq_scheduler.py:6-55):
    long-run serve counts per page are proportional to the page's
    revisit frequency."""
    from aduana_spark.frontier.freq_scheduler import simulate_serving

    pi = spark.createDataFrame(
        [
            ("https://a.com", None, 0, TS, TS, 0, 1, 0.0, None),
            ("http://www.b", None, 0, TS, TS, 0, 1, 0.0, None),
            ("http://c.com", None, 0, TS, TS, 0, 1, 0.0, None),
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    rules = [
        FreqRule(r"https://.*", fixed_interval=10.0),   # 0.1 Hz
        FreqRule(r"http://www\..*", fixed_interval=200.0),
        FreqRule(r".*", fixed_interval=500.0),
    ]
    ft = build_freq_table(pi, rules=rules)
    t0 = TS.timestamp()
    served = simulate_serving(ft, t0, t0 + 10_000)
    # expected ≈ horizon * freq
    assert served["https://a.com"] == pytest.approx(1000, rel=0.01)
    assert served["http://www.b"] == pytest.approx(50, rel=0.05)
    assert served["http://c.com"] == pytest.approx(20, rel=0.05)


def test_simulate_serving_collect_bounded(spark):
    """simulate_serving's one collect is guarded like
    FreqSchedulerView._load_table: a freq table larger than max_rows
    fails fast (limit max_rows+1, never a full materialization) with a
    pointer to the distributed EDF path; within the bound the
    simulation is unchanged."""
    from aduana_spark.frontier.freq_scheduler import simulate_serving

    pi = spark.createDataFrame(
        [
            (f"https://s{i}.com", None, 0, TS, TS, 0, 1, 0.0, None)
            for i in range(8)
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    ft = build_freq_table(pi, rules=[FreqRule(r".*", fixed_interval=10.0)])
    t0 = TS.timestamp()
    with pytest.raises(ValueError, match="max_rows=4"):
        simulate_serving(ft, t0, t0 + 100, max_rows=4)
    served = simulate_serving(ft, t0, t0 + 100, max_rows=8)
    assert served["https://s0.com"] == pytest.approx(10, abs=1)


# ---------------------------------------------------------------- round 2


def test_bf_requests_escalation_politeness(spark):
    """T2+F2 in the live request path (bf_scheduler.c:679-819): a hot
    domain is deferred at the soft limit and admitted once the
    escalation ladder relaxes past its temperature; cold domains are
    served first even when the hot pages outscore them."""
    t0 = TS
    sch = BFSchedulerView(spark)
    sch.set_crawl_rate(1.0, 4.0)  # window = 10/4.0 = 2.5 s
    assert sch.temp_window == pytest.approx(2.5)
    sch.add(
        _batch(
            spark,
            0,
            "https://seed.org/",
            [
                ("https://hot.org/a", 0.9),
                ("https://hot.org/b", 0.8),
                ("https://hot.org/c", 0.7),
                ("https://cold.org/x", 0.5),
                ("https://cold.org/y", 0.4),
            ],
            ts=t0,
        )
    )
    # crawl two hot.org pages shortly before `now` → hot.org heats up
    sch.add(_batch(spark, 1, "https://hot.org/a", [], ts=t0 + dt.timedelta(seconds=1)))
    sch.add(_batch(spark, 2, "https://hot.org/b", [], ts=t0 + dt.timedelta(seconds=1.2)))
    now = (t0 + dt.timedelta(seconds=2)).timestamp()
    # hot.org temp = (1-1/2.5) + (1-0.8/2.5) = 0.6+0.68 = 1.28: above the
    # soft limit 1.0, below the first escalation step 4^(1/4) ≈ 1.414
    got = sch.requests(3, now=now)
    assert got == ["https://cold.org/x", "https://cold.org/y", "https://hot.org/c"]
    # without politeness the hot page would have been served first
    sch2 = BFSchedulerView(spark, page_db=sch.page_db)
    assert sch2.requests(1) == ["https://hot.org/c"]


def test_bf_scheduler_from_settings(spark):
    from aduana_spark.api import BFScheduler, PageRankScorer

    sch = BFScheduler.from_settings(
        spark,
        {
            "SCORER": PageRankScorer,
            "MAX_CRAWL_DEPTH": 2,
            "SOFT_CRAWL_LIMIT": 0.5,
            "HARD_CRAWL_LIMIT": 8.0,
            "SCORE_UPDATE_INTERVAL": 300,
        },
    )
    assert sch.max_depth == 2
    assert sch.soft_rate == pytest.approx(0.5)
    assert sch.hard_rate == pytest.approx(8.0)
    assert sch.temp_window == pytest.approx(10.0 / 8.0)
    assert sch.update_interval == 300
    assert sch.scorer is not None
    # escalation ladder: 5 geometric steps soft → hard
    limits = sch._escalation_limits()
    assert len(limits) == 5
    assert limits[0] == pytest.approx(0.5)
    assert limits[-1] == pytest.approx(8.0)


def test_freq_spec_anchored_and_null_excluded(spark):
    """ADVICE round 1: rules anchor at the URL start (re.match), and
    rule-unmatched pages stay excluded even when freq_min clipping is
    active (NULL must not be clipped into admission)."""
    pi = spark.createDataFrame(
        [
            ("https://a.com/x", None, 0, TS, TS + dt.timedelta(seconds=100), 0, 2, 0.0, None),
            ("https://evil.com/?u=https://a.com/x", None, 0, TS,
             TS + dt.timedelta(seconds=100), 0, 2, 0.0, None),
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    rules = [FreqRule(r"https://a\.com.*", fixed_interval=10.0)]
    ft = build_freq_table(pi, rules=rules, freq_min=0.0001, freq_max=10.0)
    urls = [r["url"] for r in ft.collect()]
    assert urls == ["https://a.com/x"]


def test_freq_load_simple_scale_semantics(spark):
    """freq_scheduler_load_simple (freq_scheduler.c:188-219): every
    crawled non-seed page gets freq_default, except pages with a
    positive rate estimate get freq_scale × rate when freq_scale>0."""
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    pi = spark.createDataFrame(
        [
            # rate = (4+1)/100 = 0.05
            ("https://a.com", None, 0, TS, TS + dt.timedelta(seconds=100), 4, 5, 0.0, None),
            # single crawl → empty interval → rate sentinel -1
            ("https://b.com", None, 0, TS, TS, 0, 1, 0.0, None),
            ("_seed_0", None, 0, TS, TS, 0, 1, 0.0, None),
            ("https://never.com", None, None, None, None, 0, 0, 0.0, None),
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    db = _page_db(spark, pi)
    fs = FreqSchedulerView(spark, page_db=db)
    fs.load_simple(freq_default=0.01, freq_scale=2.0)
    assert fs._schedule["https://a.com"][1] == pytest.approx(0.1)  # 2 × 0.05
    assert fs._schedule["https://b.com"][1] == pytest.approx(0.01)  # default
    assert "_seed_0" not in fs._schedule
    assert "https://never.com" not in fs._schedule
    # scale disabled (reference default -1): everyone gets the default
    fs2 = FreqSchedulerView(spark, page_db=db)
    fs2.load_simple(freq_default=0.25)
    assert fs2._schedule["https://a.com"][1] == pytest.approx(0.25)
    # scale boundary: the facade's driver-side dict refuses above
    # max_facade_rows with a pointer to the distributed next_due_view
    # path — it must fail fast, not OOM the driver at 10^12 rows
    fs3 = FreqSchedulerView(spark, page_db=db)
    fs3.max_facade_rows = 1  # table has 2 loadable pages
    with pytest.raises(ValueError, match="next_due_view"):
        fs3.load_simple(freq_default=0.01)
    assert fs3._schedule == {}


def test_freq_facade_margin_and_max_n_crawls(spark):
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    last = TS + dt.timedelta(seconds=100)
    pi = spark.createDataFrame(
        [
            ("https://a.com", None, 0, TS, last, 4, 5, 0.0, None),
            ("https://b.com", None, 0, TS, last, 4, 9, 0.0, None),
        ],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    fs = FreqSchedulerView(spark, page_db=_page_db(spark, pi))
    fs.margin = 0.1
    fs.max_n_crawls = 9
    fs.load([("https://a.com", 0.1), ("https://b.com", 0.1)])
    t_last = last.timestamp()
    # margin gate: 1/(0.1 × 1.1) = 9.09 s must have elapsed — the whole
    # request interrupts at the first too-recent page
    assert fs.requests(5, now=t_last + 5) == []
    # after the gate: a.com served and reinserted with score += 1/freq;
    # b.com hit max_n_crawls (9) → dropped at pop time, so the second
    # slot pops a.com again (its last_crawl hasn't moved — no crawl
    # happened between the pops, exactly like the reference's loop)
    assert fs.requests(2, now=t_last + 9.5) == ["https://a.com", "https://a.com"]
    assert "https://b.com" not in fs._schedule
    assert fs._schedule["https://a.com"][0] == pytest.approx(20.0)


def test_freq_facade_serving_ratios(spark):
    """Reference statistical property (test_freq_scheduler.py:6-55)
    driven through the facade's requests loop: long-run serve counts
    are proportional to revisit frequency."""
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    # the served pages must exist in page_info: the pi==NULL path
    # deletes unknown entries without serving (freq_scheduler.c:335-372)
    pi = spark.createDataFrame(
        [(u, None, 0, TS, TS, 0, 1, 0.0, None) for u in "abc"],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    fs = FreqSchedulerView(spark, page_db=_page_db(spark, pi))
    fs.load([("a", 0.1), ("b", 0.005), ("c", 0.002)])
    served = fs.requests(10_000, now=0.0)
    counts = {u: served.count(u) for u in "abc"}
    total_rate = 0.107
    horizon = 10_000 / total_rate
    assert counts["a"] == pytest.approx(horizon * 0.1, rel=0.01)
    assert counts["b"] == pytest.approx(horizon * 0.005, rel=0.02)
    assert counts["c"] == pytest.approx(horizon * 0.002, rel=0.05)


def test_freq_from_settings(spark):
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    pi = spark.createDataFrame(
        [("https://a.com", None, 0, TS, TS + dt.timedelta(seconds=100), 4, 5, 0.0, None)],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    fs = FreqSchedulerView.from_settings(
        spark,
        {"FREQ_DEFAULT": 0.02, "FREQ_SCALE": 4.0, "FREQ_MARGIN": 0.5, "MAX_N_CRAWLS": 10},
        page_db=_page_db(spark, pi),
    )
    assert fs.margin == pytest.approx(0.5)
    assert fs.max_n_crawls == 10
    assert fs._schedule["https://a.com"][1] == pytest.approx(0.2)  # 4 × 0.05


def test_freq_missing_pageinfo_deleted(spark):
    """freq_scheduler_request (freq_scheduler.c:335-372): schedule
    entries whose PageInfo lookup returns NULL are deleted without
    being served — a load() of an unknown URL must not be served on
    every request forever."""
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    pi = spark.createDataFrame(
        [("a", None, 0, TS, TS, 0, 1, 0.0, None)],
        schema="url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP,"
        " last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE,"
        " content_hash BINARY",
    )
    fs = FreqSchedulerView(spark, page_db=_page_db(spark, pi))
    fs.load([("a", 0.1), ("ghost", 10.0)])  # ghost would win every pop
    served = fs.requests(4, now=0.0)
    assert served == ["a"] * 4
    assert "ghost" not in fs._schedule
    assert "a" in fs._schedule


def test_set_crawl_rate_nonpositive_hard_disables(spark):
    """hard_rate <= 0 must not raise ZeroDivisionError (the C float
    division, bf_scheduler.c:832-848, degrades to inf): treat it as
    politeness-disabled, like soft_rate < 0."""
    sch = BFSchedulerView(spark)
    sch.set_crawl_rate(0.25, 0.0)
    assert sch.temp_window is None
    assert sch._escalation_limits() == [None]
    sch.set_crawl_rate(0.25, 4.0)  # re-arming afterwards still works
    assert sch.temp_window == pytest.approx(2.5)


def test_maybe_update_counts_pages_not_batches(spark):
    """BF_SCHEDULER_UPDATE_NUM_PAGES (bf_scheduler.c:537-549) counts
    crawled *pages*, not add() calls: one 120-page batch must trip the
    >=100-new-pages gate."""
    from aduana_spark.api import BFScheduler

    rows = [
        (i, f"https://d{i}.com/", [(f"https://d{i}.com/x", 0.5)], 0.0, b"h", TS)
        for i in range(120)
    ]
    batch = spark.createDataFrame(rows, schema=BATCH_SCHEMA)
    sch = BFScheduler(spark)
    sch.add(batch)
    assert sch._pages_since_update == 120
    assert sch.maybe_update() is True
    assert sch._pages_since_update == 0


def test_maybe_update_recrawls_grow_the_base(spark):
    """The 1%-growth base is the CUMULATIVE pages-added counter
    (n_pages_old = n_pages_new snapshot, bf_scheduler.c:539-548), not
    the distinct crawled-page count: a crawl that mostly RE-crawls
    existing pages still grows the base, so 120 new pages against a
    15000-add history must NOT trip the gate (needs >=150)."""
    from aduana_spark.api import BFScheduler

    sch = BFScheduler(spark)
    # counter state after 15000 cumulative adds (recrawls included)
    # followed by a 120-page batch — driving 150 real add() batches
    # through Spark would test the same arithmetic at 1000x the cost
    sch._pages_added_total = 15000
    sch._pages_since_update = 120
    assert sch.maybe_update() is False  # 120 < 1% of 14880
    sch._pages_added_total = 15030
    sch._pages_since_update = 150
    assert sch.maybe_update() is True  # 150 >= 1% of 14880
    assert sch._pages_since_update == 0
    assert sch._pages_added_total == 15030  # cumulative never resets


def test_maybe_update_base_survives_restart(spark):
    """A scheduler opened over an EXISTING PageDB must seed the
    growth base from the persisted crawled pages — the reference's
    reload path adds reloaded pages into the cumulative counter
    (bf_scheduler.c:329), so a restart over a large DB must not
    re-fire the full score recompute on every >=100-page batch."""
    from aduana_spark.api import BFScheduler, PageDB

    db = PageDB(spark)
    rows = [
        (i, f"https://d{i}.com/", [(f"https://d{i}.com/x", 0.5)], 0.0, b"h", TS)
        for i in range(150)
    ]
    db.add_batch(spark.createDataFrame(rows, schema=BATCH_SCHEMA))

    # "restart": a fresh scheduler over the same persisted PageDB
    sch = BFScheduler(spark, page_db=db)
    assert sch._pages_added_total == 150
    # counter state as add() would leave it after a 1-page batch:
    # n_old = 150 persisted pages -> blocked by the >=100 gate
    sch._pages_added_total += 1
    sch._pages_since_update = 1
    assert sch.maybe_update() is False
    # +99 more (100 since restart) >= max(100, 1% of 150) -> fires
    sch._pages_added_total += 99
    sch._pages_since_update = 100
    assert sch.maybe_update() is True


def test_frontier_topk_per_domain(spark):
    """SURVEY §2.5 politeness interleave: per_domain_k caps each
    domain's share of the batch before the global top-k, so a hub
    domain cannot monopolize the frontier."""
    pi = empty_page_info(spark)
    links = [(f"https://hub.com/p{i}", 0.9 - i / 1000.0) for i in range(5)]
    links += [(f"https://small{i}.org/", 0.5 - i / 1000.0) for i in range(3)]
    pi = ingest_crawl_batch(pi, _batch(spark, 0, "https://seed.io/", links))
    sched = scheduled(pi)
    plain = [r["url"] for r in frontier_topk(sched, pi, 4).collect()]
    assert plain == [f"https://hub.com/p{i}" for i in range(4)]
    capped = [
        r["url"] for r in frontier_topk(sched, pi, 4, per_domain_k=2).collect()
    ]
    assert capped == [
        "https://hub.com/p0",
        "https://hub.com/p1",
        "https://small0.org/",
        "https://small1.org/",
    ]


def test_freq_requests_collect_bounded_by_schedule(spark):
    """r6: the per-request driver collect is semi-joined to the
    schedule's URLs — a page_info table far larger than the schedule
    serves correctly without shipping non-schedule rows to the driver
    (the max_facade_rows guard bounds the schedule, not page_info)."""
    from aduana_spark.frontier.freq_scheduler import FreqSchedulerView

    last = TS + dt.timedelta(seconds=100)
    big_pi = spark.range(0, 5000).selectExpr(
        "concat('https://bulk.org/p', id) AS url",
        "CAST(NULL AS STRING) AS linked_from",
        "CAST(0 AS BIGINT) AS depth",
        f"CAST('{TS.isoformat()}' AS TIMESTAMP) AS first_crawl",
        f"CAST('{last.isoformat()}' AS TIMESTAMP) AS last_crawl",
        "CAST(1 AS BIGINT) AS n_changes",
        "CAST(2 AS BIGINT) AS n_crawls",
        "CAST(0.0 AS DOUBLE) AS score",
        "CAST(NULL AS BINARY) AS content_hash",
    )
    fs = FreqSchedulerView(spark, page_db=_page_db(spark, big_pi))
    # schedule far smaller than page_info — and smaller than
    # max_facade_rows, so the facade contract is satisfied while the
    # old whole-table collect would have shipped all 5000 rows
    fs.max_facade_rows = 100
    fs.load([("https://bulk.org/p7", 0.5), ("https://bulk.org/p11", 0.25)])
    # both start at score 0 → (score, url) order is lexicographic
    got = fs.requests(2, now=last.timestamp() + 1000)
    assert got == ["https://bulk.org/p11", "https://bulk.org/p7"]
    # second round: p7 re-inserted at 1/0.5 = 2.0 < p11's 1/0.25 = 4.0
    assert fs.requests(1, now=last.timestamp() + 2000) == ["https://bulk.org/p7"]


# ------------------------------------------- commit executors (local/spark)

#: LOCAL_MAX_ROWS that puts every commit on each executor
BOUNDS = {"local": page_info.LOCAL_MAX_ROWS, "spark": -1}


@pytest.mark.parametrize(
    "case",
    [
        test_bf_scheduler_pop_order,
        test_bf_scheduler_restart_stability,
        test_one_ingest_path,
        test_backend_group_commit_matches_one_at_a_time,
        test_backend_round_matches_sequential_gets,
        test_bf_requests_escalation_politeness,
    ],
    ids=[
        "pop_order",
        "restart_stability",
        "one_ingest_path",
        "group_commit",
        "round_matches_sequential_gets",
        "escalation_politeness",
    ],
)
def test_frontier_distributed(spark, monkeypatch, case):
    """The same cases with every commit on the Spark executor."""
    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", -1)
    case(spark)


def test_ingest_local_matches_merge_semantics(spark):
    """test_page_info_merge_semantics's batches through the driver
    MERGE give the Spark MERGE's page-info and schedule rows."""
    later = TS + dt.timedelta(seconds=10)
    batches = [
        _batch(spark, 0, "www.yahoo.com", [("www.google.com", 1.1)], score=0.5,
               chash=b"\x10\x00"),
        _batch(spark, 1, "www.bing.com", [], score=0.2, chash=b"\x20\x00"),
        _batch(spark, 2, "www.bing.com", [], score=0.2, chash=b"\x30\x00", ts=later),
    ]
    pi = empty_page_info(spark)
    table = page_info.arrow_schema(pi).empty_table()
    for b in batches:
        pi = ingest_crawl_batch(pi, b)
        table = page_info._ingest_local(table, b.toArrow())
        sched = scheduled(pi)
        local_sched = scheduled(spark.createDataFrame(table)).toArrow()
        assert _rows(spark.createDataFrame(local_sched)) == _rows(sched)
    assert _rows(spark.createDataFrame(table)) == _rows(pi)
    rows = {r["url"]: r for r in table.to_pylist()}
    assert (rows["www.bing.com"]["n_crawls"], rows["www.bing.com"]["n_changes"]) == (2, 1)
    assert (rows["www.google.com"]["linked_from"], rows["www.google.com"]["depth"]) == (
        "www.yahoo.com", 1,
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _random_commits(seed, n_commits=5):
    """Seeded crawl batches: recrawls with a changed, equal or null
    hash; links to known, unknown and crawled-in-batch pages, repeated
    links and empty lists; seed pages and non-http URLs."""
    import random

    rng = random.Random(seed)
    pool = (
        [f"https://d{d}.org/p{i}" for d in range(3) for i in range(6)]
        + ["_seed_0", "_seed_1", "ftp://files.org/a", "mailto:x@y.org", "relative/page"]
    )
    hashes = [b"a", b"b", None]
    last: dict = {}  # url -> hash of its last crawl
    order = 0
    for c in range(n_commits):
        crawled = rng.sample(pool, rng.randint(1, 6))
        # recrawl two earlier pages: one with a changed hash, one equal
        crawled += rng.sample(sorted(set(last) - set(crawled)), min(2, len(last)))
        rows = []
        for i, url in enumerate(crawled):
            if url in last and i >= len(crawled) - 2:
                h = hashes[(hashes.index(last[url]) + i % 2) % 3]
            else:
                h = rng.choice(hashes)
            last[url] = h
            k = rng.choice([0, 0, 1, 3, 6])
            links = [(rng.choice(pool + crawled), rng.choice([0.1, 0.5, 0.9, None]))
                     for _ in range(k)]
            if links and rng.random() < 0.3:
                links.append(links[0])  # a repeated link
            rows.append((
                order, url, links, rng.choice([0.0, 0.3, None]), h,
                TS + dt.timedelta(seconds=rng.randint(0, 3 * c + 3)),
            ))
            order += rng.randint(1, 3)
        yield rows


@pytest.mark.parametrize("seed", [3, 11])
def test_commit_executors_agree(spark, monkeypatch, seed):
    """Seeded multi-commit crawls through BFSchedulerView on the driver
    executor, on Spark, and alternating between them per commit: equal
    page_info, edges, schedule, crawl_log and id_edges rows and
    schemas, and no cached batch left behind."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    views = {run: BFSchedulerView(spark) for run in ("local", "spark", "mixed")}
    for c, rows in enumerate(_random_commits(seed)):
        batch = spark.createDataFrame(rows, schema=PageDB.BATCH_SCHEMA)
        for run, view in views.items():
            ex = run if run != "mixed" else ("local", "spark")[c % 2]
            monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", BOUNDS[ex])
            view.add(batch)
            assert view.page_db.last_commit.executor == ex
            assert view.page_db.last_commit.pages == len(rows)
    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", BOUNDS["local"])
    assert cache.isEmpty()

    def tables(view):
        return {
            "page_info": view.page_db.page_info,
            "edges": view.page_db.edges,
            "schedule": view.schedule,
            "crawl_log": view.page_db.crawl_log,
            "id_edges": view.page_db.id_edges(),
        }

    want = tables(views["spark"])
    for run in ("local", "mixed"):
        for name, df in tables(views[run]).items():
            assert df.schema == want[name].schema, (run, name)
            assert _rows(df) == _rows(want[name]), (run, name)
    assert views["local"].page_db.kept("edges") is not None  # id_edges ran local
    info = {r["url"]: r for r in want["page_info"].collect()}
    recrawled = [r for r in info.values() if r["n_crawls"] >= 2]
    assert any(r["n_changes"] for r in recrawled)
    assert any(r["n_changes"] < r["n_crawls"] - 1 for r in recrawled)


@pytest.mark.parametrize(
    "rows, then",
    [
        # the Spark MERGE gives "a" two page-info rows, so the store
        # stays on Spark
        ([(0, "a", [("b", 0.1)]), (1, "a", [("c", 0.2)])], "spark"),
        ([(0, "a", [("b", 0.1)]), (0, "b", [("c", 0.2)])], "local"),
        ([(0, None, [("b", 0.1)]), (1, "a", [])], "local"),
        ([(0, "a", [(None, 0.1), ("b", 0.2)])], "local"),
    ],
    ids=["repeated_url", "repeated_crawl_order", "null_url", "null_link_url"],
)
def test_commit_declines_to_spark(spark, rows, then):
    """A batch the driver MERGE does not take runs the Spark path, on
    a store within the bound, and leaves no cached batch. The next
    commit runs on the driver if it may, also after a pop fetched the
    Spark state."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    batch = spark.createDataFrame(
        [(o, u, links, 0.0, b"h", TS) for o, u, links in rows],
        schema=PageDB.BATCH_SCHEMA,
    )
    view = BFSchedulerView(spark)
    view.add(batch)
    assert view.page_db.last_commit.executor == "spark"
    assert view.page_db.last_commit.pages == len(rows)
    assert cache.isEmpty()
    view.requests(1)
    assert view.last_pop.executor == "local"
    view.add(_batch(spark, 5, "z", [("a", 0.3)]))
    assert view.page_db.last_commit.executor == then


@pytest.mark.parametrize("executor", ["local", "spark"])
def test_commit_log_line(spark, monkeypatch, caplog, executor):
    """One INFO line per commit on aduana_spark.frontier, with the
    fields as LogRecord attributes."""
    import logging

    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", BOUNDS[executor])
    db = PageDB(spark)
    db.add_batch(_batch(spark, 0, "s", [("a", 0.5), ("b", 0.4)]))
    with caplog.at_level(logging.INFO, logger="aduana_spark.frontier"):
        db.add_batch(_batch(spark, 1, "a", [("b", 0.9), ("c", 0.3), ("c", 0.1)]))
    recs = [r for r in caplog.records if r.name == "aduana_spark.frontier"]
    assert len(recs) == 1
    r = recs[0]
    assert r.getMessage().startswith(f"commit executor={executor} pages=1 ")
    assert (r.executor, r.pages, r.page_info_rows) == (executor, 1, 4)
    assert r.links == (3 if executor == "local" else None)
    assert r.wall_sec > 0


# ------------------------------------------------ pop executors (local/spark)


def test_frontier_topk_scans_page_info_once(spark):
    """Over ``scheduled`` (which carries ``depth``) the Spark pop reads
    page_info once: no join back onto page_info."""
    db = PageDB(spark)
    db.add_batch(db.pages_table([
        page_info.CrawledPage(f"https://d{i % 7}.org/p{i}",
                              [(f"https://d{i % 7}.org/p{i}/l{j}", j / 10) for j in range(2)])
        for i in range(100)
    ]))
    assert db.rows("page_info") == 300
    pi = db.page_info
    served = spark.createDataFrame([("https://d0.org/p0/l0",)], "url STRING")
    for sched, scans in ((scheduled(pi), 1), (scheduled(pi).drop("depth"), 2)):
        top = frontier_topk(sched, pi, 100, served=served)
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LocalTableScan") == scans, plan
        assert top.count() == 100


def _pop_state(spark, seed):
    """Seeded page_info, crawl log, overlay and served log for the pop:
    score ties, null, NaN, ±0.0 and infinite scores, depths 0-4 and
    null, seed pages, non-http URLs and a null URL; crawl-log times
    with fractional seconds, 0-3.5 s before ``now``, hotter on some
    domains than others."""
    import random

    rng = random.Random(seed)
    domains = [f"https://d{d}.org" for d in range(4)]
    urls = [f"{d}/p{i}" for d in domains for i in range(12)] + [
        "_seed_0", "_seed_1", "ftp://files.org/a", "mailto:x@y.org", "relative/page",
        "http://u:p@d1.org:81/q", None,
    ]
    scores = [0.5, 0.5, 0.1, 0.9, None, float("nan"), -0.0, 0.0, float("inf"), float("-inf")]
    info = spark.createDataFrame(
        [(u, None, rng.choice([0, 1, 2, 3, 4, None]), None, None, 0,
          rng.choice([0, 0, 0, 1]), rng.choice(scores), None) for u in urls],
        page_info.PAGE_INFO_SCHEMA,
    )
    now = TS + dt.timedelta(seconds=10.5)
    log_urls = rng.choices(urls, weights=[10] * 12 + [6] * 12 + [3] * 12 + [1] * 12 + [2] * 7,
                           k=60)
    crawls = spark.createDataFrame(
        [(u, now - dt.timedelta(microseconds=rng.randint(0, 3_500_000))) for u in log_urls],
        "url STRING, ts TIMESTAMP",
    )
    known = [u for u in urls if u is not None]
    rekeyed = spark.createDataFrame(
        [(u, rng.choice(scores)) for u in rng.sample(known, 25) + ["https://d9.org/x"]],
        "url STRING, score DOUBLE",
    )
    served = spark.createDataFrame([(u,) for u in rng.sample(known, 4)], "url STRING")
    return info, crawls, rekeyed, served, now.timestamp(), rng.choice([None, 2])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pop_executors_agree(spark, monkeypatch, seed):
    """The driver pop serves what the Spark pop serves, call for call:
    over the overlay, the depth gate and a served log, first with a
    crawl rate armed at a fixed ``now`` (every escalation step), then
    with it disarmed."""
    info, crawls, rekeyed, served, now, max_depth = _pop_state(spark, seed)
    got = {}
    for executor, bound in BOUNDS.items():
        monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", bound)
        db = PageDB(spark)
        db.page_info, db.crawl_log = info, crawls
        sch = BFSchedulerView(spark, max_depth=max_depth, page_db=db)
        sch.rekeyed, sch.served = rekeyed, served
        sch.set_crawl_rate(1.0, 4.0)
        pops = []
        for k in (3, 5, 1, 8, 4):
            pops.append(sch.requests(k, now=now))
            assert sch.last_pop.executor == executor
        sch.set_crawl_rate(0.25, 0.0)
        pops.append(sch.requests(100))
        got[executor] = pops
    assert got["local"] == got["spark"]
    served = sum(got["local"], [])
    assert len(served) == len(set(served)) > 12
    assert None not in served


@pytest.mark.parametrize("executor", ["local", "spark"])
def test_pop_log_line(spark, monkeypatch, caplog, executor):
    """One INFO line per pop on aduana_spark.frontier, with the fields
    as LogRecord attributes."""
    import logging

    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", BOUNDS[executor])
    sch = BFSchedulerView(spark)
    for i, (url, links) in enumerate(CRAWL):
        sch.add(_batch(spark, i, url, links))
    with caplog.at_level(logging.INFO, logger="aduana_spark.frontier"):
        assert sch.requests(2) == ["9", "3"]
    recs = [r for r in caplog.records if r.getMessage().startswith("pop ")]
    assert len(recs) == 1
    r = recs[0]
    assert r.getMessage().startswith(f"pop executor={executor} n=2 got=2 candidates=")
    assert (r.executor, r.n, r.got, r.passes) == (executor, 2, 2, 1)
    # uncrawled: 3, 6 and 9; not counted on Spark
    assert r.candidates == (3 if executor == "local" else None)
    assert r.wall_sec > 0


def test_backend_round_runs_no_spark(spark, monkeypatch):
    """Within the bound a Backend GET round, its commit and its pop
    with a crawl rate armed, runs no Spark job and creates no
    DataFrame."""
    from aduana_spark.api import Backend

    b = Backend(spark, max_depth=3)
    b.scheduler.set_crawl_rate(1.0, 4.0)
    b.add_seeds(["https://a.org/", "https://b.org/", "https://c.org/"])
    for url in b.get_next_requests(2):
        b.page_crawled(url, [(url + "x", 0.5), ("https://d.org/", 0.4)])
    b.page_crawled("https://e.org/", [("https://e.org/1", 0.9)])
    created = []
    session = type(spark)
    create = session.createDataFrame

    def counted(self, *a, **kw):
        created.append(a)
        return create(self, *a, **kw)

    monkeypatch.setattr(session, "createDataFrame", counted)
    sc = spark.sparkContext
    sc.setJobGroup("get-round", "one Backend GET round")
    try:
        got = b.get_next_requests(4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # a.org/ (1.0, left by the first GET), e.org/1 (0.9), the two 0.5s
    assert got[:2] == ["https://a.org/", "https://e.org/1"]
    assert sorted(got[2:]) == ["https://b.org/x", "https://c.org/x"]
    assert sc.statusTracker().getJobIdsForGroup("get-round") == []
    assert created == []
    assert b.page_db.last_commit.executor == b.scheduler.last_pop.executor == "local"
    assert b.metrics()["pop_seconds"] > 0
