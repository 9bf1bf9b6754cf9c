"""crawl_rank: one scored crawl per pass, then MinHash-LSH dedup of a
salted document corpus; the traced run adds the analytics legs over
the crawl's link graph.

A pass runs, in order: ``extract_pages``; the builder's edge dedup and
the per-page adjacency lists; ``BFScheduler.add`` of the whole crawl as
one batch (one bulk page_info MERGE through ``PageDB.add_batch``);
personalized ``PageRankScorer.update`` and ``HitsScorer.update`` with
checkpoints; ``BFScheduler.update_scores`` and ``requests(k)``; and
``minhash_lsh_candidates`` over the corpus.

Connected components, label propagation and the triangle count on the
crawl's id-edge graph run only in the traced run, after the pass and
under a root span of their own: on this graph each costs as much as a
scorer, and a benchmark run must stay short enough for dozens of runs.
They are measured per layer and do not move ``wall_s``.

Set-up writes the inputs and computes their oracles. There is no
warm-up pass: the workload models one scoring job per process, so JIT,
codegen and Python worker start-up are part of the first pass, as they
are for every scheduled run of such a job.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time

from perfbench import harness, inputs

FRONTIER_K = 100


class _Converged:
    """A scorer already updated in this pass: ``update_scores`` re-keys
    the schedule from its scores without recomputing PageRank."""

    def __init__(self, scorer):
        self._scorer = scorer

    def update(self) -> None:
        pass

    def scores(self):
        return self._scorer.scores()


@contextlib.contextmanager
def _capture_results(sink: dict, tracer: harness.Tracer):
    """Keep the ``IterativeResult`` the api scorers discard, and (traced
    runs only) give each checkpoint write its own span."""
    import aduana_spark.api as api
    from aduana_spark.graph.checkpoint import CheckpointManager

    orig = api.pagerank_job, api.hits_job, CheckpointManager.save

    def keep(fn, key):
        def call(*a, **kw):
            sink[key] = fn(*a, **kw)
            return sink[key]

        return call

    def save(self, iteration, df, metrics):
        with tracer.span("checkpoint"):
            return orig[2](self, iteration, df, metrics)

    api.pagerank_job = keep(orig[0], "pagerank")
    api.hits_job = keep(orig[1], "hits")
    if tracer.enabled:
        CheckpointManager.save = save
    try:
        yield
    finally:
        api.pagerank_job, api.hits_job, CheckpointManager.save = orig


class CrawlRank:
    def __init__(self, spark, scratch: harness.Scratch, seed: int):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.layer_counts: dict = {}

    # ---------------------------------------------------------- set-up

    def setup(self) -> None:
        """The seeded crawl and corpus on disk, with their oracles."""
        t0 = time.time()
        self.pages = self.scratch.sub("inputs", "pages")
        n = inputs.write_crawl_pages(self.pages, self.seed, inputs.CRAWL_PAGES)
        self.oracle = inputs.crawl_oracle(self.pages)
        self.docs = self.scratch.sub("inputs", "docs.parquet")
        docs = inputs.write_documents(self.docs, self.seed, inputs.DEDUP_DOCS)
        self.expected_pairs = docs["pairs"]
        self.gen_s = time.time() - t0
        self.sizes = {
            "pages": n,
            "edges": self.oracle["edges"],
            "vertices": self.oracle["vertices"],
            "html_bytes": self.oracle["bytes"],
            "docs": docs["docs"],
            "doc_bytes": docs["bytes"],
        }
        self.datagen_rows = n + docs["docs"]

    # ------------------------------------------------------------ pass

    def run_pass(self, tracer: harness.Tracer, trace_id: str) -> tuple[float, float, list[str]]:
        """One pass; returns (wall seconds, CPU seconds of the process
        tree, failed checks). The checks, and in a traced run the
        analytics legs, run after the pass is timed."""
        from pyspark.sql import functions as F

        from aduana_spark.api import BFScheduler, HitsScorer, PageDB, PageRankScorer
        from aduana_spark.extraction import extract_pages, raw_edges
        from aduana_spark.graph.builder import build_edges
        from aduana_spark.pipeline.dedup import minhash_lsh_candidates

        spark = self.spark
        traced = tracer.enabled
        ckpt = self.scratch.sub("checkpoints", trace_id)
        shutil.rmtree(ckpt, ignore_errors=True)
        results: dict = {}
        cached: list = []
        counts: dict = {}

        def persist(df):
            cached.append(df.persist())
            return cached[-1]

        pages = spark.read.parquet(self.pages)
        docs = spark.read.parquet(self.docs)
        cpu0 = harness.tree_cpu_s()
        t0 = time.time()
        with tracer.span("pass", trace=trace_id) as root, \
                _capture_results(results, tracer):
            with tracer.span("extraction"):
                extracted = extract_pages(pages)
                if traced:
                    extracted = persist(extracted)
                    row = extracted.agg(
                        F.count("*"), F.sum(F.size("links"))
                    ).first()
                    counts["extraction.pages"], counts["extraction.links"] = row[0], row[1]
            with tracer.span("builder"):
                edges = build_edges(raw_edges(extracted))
                links = edges.groupBy("src_url").agg(
                    F.collect_list(
                        F.struct(F.col("dst_url").alias("url"), F.lit(0.0).alias("score"))
                    ).alias("out")
                )
                batch = persist(
                    extracted.join(links, extracted.url == links.src_url, "left")
                    .select(
                        F.xxhash64("url").alias("crawl_order"),
                        "url",
                        F.coalesce(
                            "out",
                            F.array().cast("array<struct<url:string,score:double>>"),
                        ).alias("links"),
                        (F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(1000)) / 1000.0)
                        .alias("page_score"),
                        F.unhex(F.md5("text")).alias("content_hash"),
                        F.col("warc_ts").alias("ts"),
                    )
                )
                if traced:
                    # raw_edges explodes the links: one row per link
                    counts["builder.edges_in"] = counts["extraction.links"]
                    counts["builder.edges_out"] = persist(edges).count()
                    batch.count()
            db = PageDB(spark)
            sched = BFScheduler(spark, page_db=db)
            with tracer.span("api.add_batch"):
                sched.add(batch)
            with tracer.span("pagerank"):
                pr = PageRankScorer(db, use_content_scores=True)
                pr.update(checkpoint=ckpt)
            with tracer.span("hits"):
                hs = HitsScorer(db)
                hs.update(checkpoint=ckpt)
            with tracer.span("api.update_scores"):
                sched.scorer = _Converged(pr)
                sched.update_scores()
            with tracer.span("bf_scheduler.requests"):
                served = sched.requests(FRONTIER_K)
            with tracer.span("dedup"):
                pairs = minhash_lsh_candidates(
                    docs, num_perm=64, bands=16, shingle_k=3, threshold=0.5
                ).select("id_a", "id_b").collect()
        wall = time.time() - t0
        cpu = harness.tree_cpu_s() - cpu0
        failed = self._check(sched, results, served, pairs)
        if traced:
            root["wall"] = wall
            failed += self._analytics(tracer, db, results, counts, persist, trace_id)
            self._layer_counts(counts, db, results, pairs, ckpt)
        for df in cached:
            df.unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall, cpu, failed

    def _analytics(self, tracer, db, results, counts, persist, trace_id) -> list[str]:
        """Components, label propagation and triangles on the crawl's
        id-edge graph, checked against the networkx oracle (traced runs
        only)."""
        from aduana_spark.graph.components import connected_components
        from aduana_spark.graph.labelprop import label_propagation
        from aduana_spark.graph.triangles import triangle_count

        oracle = self.oracle
        with tracer.span("analytics", trace=f"{trace_id}-analytics"):
            with tracer.span("api.id_edges"):
                graph = persist(db.id_edges())
                graph.count()
            with tracer.span("components"):
                results["components"] = connected_components(graph)
                n_components = (
                    results["components"].ranks.select("component").distinct().count()
                )
            with tracer.span("labelprop"):
                results["labelprop"] = label_propagation(graph)
                lp_rows = results["labelprop"].ranks.count()
            with tracer.span("triangles"):
                n_triangles = triangle_count(graph).first()[0]
        counts["triangles.count"] = n_triangles
        failed = []
        if n_components != oracle["components"]:
            failed.append(f"components {n_components} != {oracle['components']}")
        if lp_rows != oracle["vertices"]:
            failed.append(f"labelprop rows {lp_rows} != {oracle['vertices']}")
        if n_triangles != oracle["triangles"]:
            failed.append(f"triangles {n_triangles} != {oracle['triangles']}")
        return failed

    # ---------------------------------------------------------- checks

    def _check(self, sched, results, served, pairs) -> list[str]:
        from pyspark.sql import functions as F

        oracle = self.oracle
        failed = []
        for algo, cols in (("pagerank", ["rank"]), ("hits", ["hub", "auth"])):
            res = results[algo]
            if not res.converged:
                failed.append(f"{algo} did not converge")
            sums = res.ranks.agg(*[F.sum(c) for c in cols]).first()
            for c, s in zip(cols, sums):
                if abs(s - 1.0) > 1e-9:
                    failed.append(f"{algo} {c} sums to {s!r}")
        sched_rows = sched.schedule.select(
            "url", "score", F.xxhash64("url").alias("h")
        ).collect()
        uncrawled = [r for r in sched_rows if r["url"] not in oracle["crawled"]]
        expected = [
            r["url"] for r in sorted(uncrawled, key=lambda r: (-r["score"], r["h"]))
        ][:FRONTIER_K]
        if served != expected or len(served) != FRONTIER_K:
            failed.append("frontier is not the top-k uncrawled by (score desc, xxhash64 asc)")
        missing = self.expected_pairs - {(r["id_a"], r["id_b"]) for r in pairs}
        if missing:
            failed.append(f"dedup misses {len(missing)} exact-copy pairs")
        self._sched_rows = len(sched_rows)
        return failed

    def _layer_counts(self, counts, db, results, pairs, ckpt) -> None:
        """Work counts read from outside after a traced pass."""
        counts["api.page_info_rows"] = db.page_info.count()
        counts["api.schedule_rows"] = self._sched_rows
        counts["bf_scheduler.rows_per_url"] = self._sched_rows / FRONTIER_K
        for algo in ("pagerank", "hits", "components", "labelprop"):
            counts[f"{algo}.superstep_walls"] = [m.wall_sec for m in results[algo].metrics]
        counts["pagerank.edges"] = results["pagerank"].n_edges
        counts["dedup.pairs"] = len(pairs)
        manifests = glob.glob(os.path.join(ckpt, "*", "manifest", "iter_*.json"))
        write_s = 0.0
        for m in manifests:
            with open(m) as fh:
                write_s += json.load(fh)["checkpoint_write_sec"]
        counts["checkpoint.write_s"] = write_s
        counts["checkpoint.shards"] = len(manifests)
        counts["checkpoint.bytes"] = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(ckpt, "*", "iter=*", "*.parquet"))
        )
        self.layer_counts = counts

    def count_candidates(self) -> int:
        """LSH candidate pairs before the Jaccard threshold (traced runs
        only, outside the pass): the denominator of the useful-pair
        ratio."""
        from aduana_spark.pipeline.dedup import minhash_lsh_candidates

        docs = self.spark.read.parquet(self.docs)
        return minhash_lsh_candidates(
            docs, num_perm=64, bands=16, shingle_k=3, threshold=None
        ).count()
