"""Benchmark decontamination: flag training documents that overlap an
evaluation/benchmark set by shared word n-grams — the standard
n-gram-overlap decontamination used for LLM training corpora (e.g.
8-13-gram matching).

Plan shape at 100 TB: the corpus side explodes each document's
distinct n-gram *hashes* (JVM-side shingles, no Python); the
benchmark side is the distinct n-gram set of the (comparatively tiny)
eval corpus — broadcast when it fits, shuffle-join on the hash when
it does not. One semi-join + one map-side-combinable count per
document; no all-pairs work anywhere.

Reference note: the reference engine has no decontamination operator —
this extends the engine for corpus curation (SURVEY.md training-data
pipeline section), reusing the dedup module's shingle column so the
same n-gram definition serves dedup, Jaccard, and decontamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.pipeline.dedup import _shingled


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document contamination against the benchmark corpus.

    Returns (doc_id, hits, total, contamination): ``hits`` = how many
    of the document's ``total`` distinct word n-grams appear in ANY
    benchmark document; ``contamination`` = hits/total (rounded 6).

    ``broadcast_benchmark``: eval sets are usually ≪ executor memory —
    broadcast turns the semi-join into a map-side hash probe with NO
    shuffle of the exploded corpus n-grams (the 100 TB fast path).
    Disable for benchmark sets beyond broadcast size; the join then
    shuffles on the n-gram hash.
    """
    bench_text = bench_text_col or text_col
    d_sh = _shingled(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")), n
    )
    grams = d_sh.select("doc_id", F.explode("shingles").alias("g"))
    bench = (
        _shingled(benchmark.select(F.col(bench_text).alias("_text")), n)
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    hits = (
        grams.join(bench, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
    )
    return (
        d_sh.select("doc_id", F.size("shingles").alias("total"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            "total",
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double") / F.col("total"), 6
            ).alias("contamination"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_contamination: float = 0.05,
    **kwargs,
) -> DataFrame:
    """The filter form: keep documents whose n-gram contamination
    against the benchmark is at most ``max_contamination``."""
    scores = ngram_contamination(
        docs, benchmark, id_col=id_col, text_col=text_col, n=n, **kwargs
    )
    keep = scores.where(F.col("contamination") <= max_contamination).select("doc_id")
    return docs.join(
        keep.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )
