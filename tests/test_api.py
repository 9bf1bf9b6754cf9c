"""High-level API parity: PageDB / scorers / BFScheduler facade
(SURVEY.md §2.11, reference aduana/__init__.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aduana_spark.api import BFScheduler, CrawledPage, HitsScorer, PageDB, PageRankScorer
from aduana_spark.datagen import GOLDEN_EDGES, GOLDEN_PAGERANK_D085


@pytest.fixture(scope="module")
def golden_db(spark):
    db = PageDB(spark)
    out = {i: [] for i in range(1, 6)}
    for s, d in GOLDEN_EDGES:
        out[s].append(d)
    for i in range(1, 6):
        db.add(CrawledPage(url=f"p{i}", links=[(f"p{t}", 0.1) for t in out[i]]))
    return db


def test_pagedb_ingest_and_scans(golden_db):
    info = {r["url"]: r for r in golden_db.page_info.collect()}
    assert info["p1"]["n_crawls"] == 1
    assert info["p5"]["n_crawls"] == 1  # crawled last with no links
    edges = {(r["src"], r["dst"]) for r in golden_db.id_edges().collect()}
    assert len(edges) == len(GOLDEN_EDGES)
    nb = golden_db.neighborhood("p5").collect()
    assert {(r["direction"], r["url"]) for r in nb} == {
        ("in", "p1"), ("in", "p2"), ("in", "p3"), ("in", "p4")
    }
    assert golden_db.find("p[12]$").count() == 2


def test_info_and_links_dump(spark):
    """S8/S9 after a two-batch ingest: one info row per page-info row
    with the dump's columns, and the links dump is the id-edge list."""
    db = PageDB(spark)
    db.add_batch(
        db.pages_batch(
            [
                CrawledPage(url="a", links=[("b", 0.5), ("c", 0.2)]),
                CrawledPage(url="b", links=[("c", 0.1)]),
            ]
        )
    )
    db.add_batch(db.pages_batch([CrawledPage(url="c", links=[("a", 0.3), ("d", 0.4)])]))
    info = db.info_dump()
    assert info.columns == [
        "hash", "url", "first_crawl", "last_crawl", "n_changes", "n_crawls", "depth",
        "score",
    ]
    rows = info.collect()
    assert len(rows) == db.page_info.count()
    assert sorted(r["url"] for r in rows) == ["a", "b", "c", "d"]
    assert sorted(db.links_dump().collect()) == sorted(db.id_edges().collect())
    assert db.links_dump().count() == 5


def test_backlink_path(spark):
    db = PageDB(spark)
    db.add(CrawledPage(url="seed", links=[("a", 0.5)]))
    db.add(CrawledPage(url="a", links=[("b", 0.5)]))
    db.add(CrawledPage(url="b", links=[("c", 0.5)]))
    assert db.backlink_path("c") == ["c", "b", "a", "seed"]


def test_pagerank_scorer_matches_golden(golden_db):
    scorer = PageRankScorer(golden_db, damping=0.85, precision=1e-6)
    scorer.update()
    got = {r["url"]: r["score"] for r in scorer.scores().collect()}
    for i, want in GOLDEN_PAGERANK_D085.items():
        assert got[f"p{i}"] == pytest.approx(want, abs=1e-6)


def test_hits_scorer_authority(golden_db):
    scorer = HitsScorer(golden_db, precision=1e-8)
    scorer.update()
    got = {r["url"]: r["score"] for r in scorer.scores().collect()}
    assert got["p5"] == pytest.approx(0.5, abs=1e-6)
    for i in range(1, 5):
        assert got[f"p{i}"] == pytest.approx(0.125, abs=1e-6)


def test_bf_scheduler_rekey_with_scorer(spark):
    """After scorer.update(), the frontier serves by converged
    authority/pagerank instead of link scores (U2)."""
    db = PageDB(spark)
    sch = BFScheduler(spark, page_db=db)
    # crawl 1 and 2; 3,4,5 stay frontier
    batches = [
        ("p1", [("p3", 0.9), ("p4", 0.1)]),
        ("p2", [("p4", 0.2), ("p5", 0.8), ("p3", 0.5)]),
    ]
    import datetime as dt

    for i, (url, links) in enumerate(batches):
        batch = spark.createDataFrame(
            [(i, url, [(u, float(s)) for u, s in links], 0.0, b"h",
              dt.datetime(2026, 1, 1, 0, 0, i))],
            schema=PageDB.BATCH_SCHEMA,
        )
        sch.add(batch)
    # link-score order: p3 (0.9) > p5 (0.8) > p4 (0.1)
    assert sch.requests(3) == ["p3", "p5", "p4"]

    sch2 = BFScheduler(spark, scorer=PageRankScorer(db, precision=1e-8), page_db=db)
    sch2.update_scores()
    got = sch2.requests(3)
    # pagerank order: p3 and p4 have 2 in-links, p5 has 1 → p5 last;
    # p3/p4 tie broken by hash
    assert set(got) == {"p3", "p4", "p5"} and got[2] == "p5"


class _FixedScorer:
    """A scorer whose converged scores are given."""

    def __init__(self, spark, scores: dict):
        self._scores = spark.createDataFrame(list(scores.items()), "url STRING, score DOUBLE")

    def update(self) -> None:
        pass

    def scores(self):
        return self._scores


@pytest.mark.parametrize("bound", [None, -1], ids=["local", "spark"])
def test_rekey_then_new_links_keep_link_score(spark, monkeypatch, bound):
    """After update_scores, pages known at the re-key are served at the
    scorer's score, even below their link score, and pages a later
    commit discovers at their link score."""
    from aduana_spark.frontier import page_info

    if bound is not None:
        monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", bound)
    scores = {"s": 9.0, "a": 5.0, "b": 0.95, "d": 0.0}
    sch = BFScheduler(spark, scorer=_FixedScorer(spark, scores))
    sch.add(sch.page_db.page_batch(CrawledPage("s", [("a", 0.1), ("b", 0.2), ("d", 0.8)])))
    sch.update_scores()
    # "b" is known: it keeps the re-keyed score; "c" is new
    sch.add(sch.page_db.page_batch(CrawledPage("a", [("c", 0.7), ("b", 0.9)])))
    assert sch.page_db.last_commit.executor == ("spark" if bound else "local")
    assert dict(sch.schedule.collect()) == {"b": 0.95, "c": 0.7, "d": 0.0}
    assert sch.requests(3) == ["b", "c", "d"]


@pytest.mark.parametrize(
    "case",
    [test_info_and_links_dump, test_bf_scheduler_rekey_with_scorer],
    ids=["info_and_links_dump", "rekey_with_scorer"],
)
def test_api_distributed(spark, monkeypatch, case):
    """The same cases with every commit on the Spark executor."""
    from aduana_spark.frontier import page_info

    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", -1)
    case(spark)
