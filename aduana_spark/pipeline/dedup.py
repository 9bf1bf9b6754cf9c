"""Deduplication at corpus scale.

Five tiers, cheapest first:

1. exact (hash-groupBy) — one shuffle on a 64/128-bit content hash,
2. MinHash + LSH — shingle → minhash signature (Arrow-vectorized
   numpy) → band buckets → bucket self-join for candidates → exact
   Jaccard verify; only candidate pairs ever shuffle,
3. SimHash — 64-bit signature, near-dups = Hamming ≤ k found by
   banding the signature into k+1 chunks (pigeonhole: any pair within
   Hamming k agrees on ≥1 chunk),
4. n-gram Jaccard — exact verification kernel (native Column
   expressions, array_intersect/union),
5. embedding cosine — random-hyperplane LSH buckets + exact cosine
   verify (see ``similarity`` for the search-flavored API).

Scale notes: every variant avoids the O(n²) cross join — candidates
come from equality buckets, so the plan is shuffle-on-bucket +
within-bucket join. Banding parameters trade recall for bucket skew;
degenerate buckets (boilerplate shingles that hash thousands of
documents into one band bucket would otherwise self-join O(b²)) are
capped by ``max_bucket_size``: oversized buckets are dropped from
candidate generation and the drop is logged — never silent.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

# ------------------------------------------------------------------ exact


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (canonical_id, doc_id).
    canonical = min id per content hash; rows only for docs that have
    at least one duplicate partner."""
    h = df.select(F.col(id_col).alias("doc_id"), F.xxhash64(text_col).alias("h"))
    grp = h.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n")
    )
    return (
        h.join(grp.where(F.col("n") > 1), "h")
        .select("canonical_id", "doc_id")
        .where(F.col("doc_id") != F.col("canonical_id"))
    )


# ------------------------------------------------------------ minhash + LSH


def _rebalance_for_udf(df: DataFrame) -> DataFrame:
    """The shingle pipeline and the Arrow-batched signature UDFs
    inherit the scan's split count; a corpus that arrives as one
    parquet file (one split) would compute every document's shingle
    set in one task and push every signature through a single Python
    worker while the other cores idle (measured on the 50k-doc bench
    corpus: the single-split signature job left the host 89% idle).
    Rebalance narrow inputs up to the session's parallelism BEFORE
    the shingle projection — the shuffle carries the raw (id, text)
    rows, and everything expensive runs post-exchange at full width.
    At real scale the scan already has >= cores splits and this is a
    no-op.

    Cost note: ``df.rdd.getNumPartitions()`` forces DataFrame→RDD
    conversion, i.e. full analysis + physical planning of the upstream
    plan, which execution then pays again. That is milliseconds for
    the scan-shaped inputs this guards (the pipelines here call it on
    a bare (id, text)/(doc_id) projection of a source table, never on
    a deep derived plan); callers with expensive upstream plans should
    repartition explicitly instead of relying on this probe."""
    min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df


def _shingle_col(text_col: str, k: int) -> F.Column:
    toks = F.split(F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    )


#: splitmix64 finalizer constants — a full-avalanche 64-bit mixer.
_MIX_M1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX_M2 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64; all arithmetic is exact
    mod 2^64 (the unsigned wraparound IS the hash's semantics — unlike
    the (a*x+b) mod p family, which silently wrapped before the mod
    and therefore wasn't the documented universal family)."""
    x = (x ^ (x >> np.uint64(30))) * _MIX_M1
    x = (x ^ (x >> np.uint64(27))) * _MIX_M2
    return x ^ (x >> np.uint64(31))


def _minhash_udf(num_perm: int, seed: int):
    """num_perm independent hash functions h_i(x) = mix64(x ^ k_i)
    with random 64-bit keys k_i — the standard keyed-mixer minhash
    family (full avalanche ⇒ permutation-like on the shingle-hash
    domain), vectorized over (perm × shingle) in one numpy op."""
    rng = np.random.RandomState(seed)
    keys = rng.randint(0, 1 << 62, size=num_perm, dtype=np.int64).astype(np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(shingles: pd.Series) -> pd.Series:
        out = []
        for arr in shingles:
            if arr is None or len(arr) == 0:
                out.append([0] * num_perm)
                continue
            x = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            hv = _mix64(x[None, :] ^ keys[:, None])
            out.append(hv.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return minhash


def _eager(df: DataFrame, eager: bool = True) -> DataFrame:
    """Populate a persisted signature intermediate with one cheap
    count BEFORE deriving the band/chunk fan-out plans from it.
    Without the barrier, the first action to touch the cache arrives
    through the explode plan, and Catalyst's collapsed projection
    re-evaluates the shingle pipeline + signature UDF once per band
    against the uncached input (measured: 40.9 s vs 1.3 s for the
    identical signature materialization on the 10x bench corpus —
    16 bands = 16 redundant UDF passes). Gated on the caller's
    ``eager`` flag so ``eager=False`` keeps its documented fully-lazy
    contract (no job at plan-construction time) — such callers accept
    the redundant-UDF hazard and manage materialization themselves."""
    if eager:
        df.count()
    return df


def _finalize(out: DataFrame, caches: list[DataFrame], eager: bool) -> DataFrame:
    """Materialize the (small) pair output and release the persisted
    signature/bucket intermediates — round-1 leaked them for the
    session's lifetime. ``eager=False`` restores lazy behavior with
    caller-managed unpersists."""
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def _cap_buckets(
    buckets: DataFrame, keys: list[str], max_bucket_size: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Drop candidate buckets larger than ``max_bucket_size`` (the
    O(b²) self-join guard). The oversized-bucket list is tiny by
    construction → broadcast anti-join; the drop count is logged so
    the cap is never silent. Returns (capped buckets, cache-to-free)."""
    if not max_bucket_size:
        return buckets, None
    big = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .where(F.col("_bsz") > max_bucket_size)
        .select(*keys)
        .persist()
    )
    n_big = big.count()
    if n_big:
        logger.warning(
            "dedup: dropping %d candidate buckets larger than %d docs "
            "(boilerplate guard) — pairs inside them are NOT examined",
            n_big,
            max_bucket_size,
        )
    return buckets.join(F.broadcast(big), keys, "left_anti"), big


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, shingles, sig) — shingle sets built JVM-side, minhash
    permutations Arrow-vectorized."""
    src = _rebalance_for_udf(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    )
    sh = src.select("doc_id", _shingle_col("_text", shingle_k).alias("shingles"))
    return sh.withColumn("sig", _minhash_udf(num_perm, seed)(F.col("shingles")))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float | None = None,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
    eager: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) with exact Jaccard
    over shingle sets; optionally filtered to jaccard >= threshold.
    Band buckets larger than ``max_bucket_size`` are dropped (logged)."""
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    sigs = _eager(
        minhash_signatures(df, id_col, text_col, num_perm, shingle_k, seed).persist(),
        eager,
    )
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    buckets = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                band_idx,
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    buckets, big = _cap_buckets(buckets, ["band", "bucket"], max_bucket_size)

    # Candidate generation and pair-dedup run on NARROW rows — (band,
    # bucket, doc_id) only. Carrying the shingle arrays through the
    # bucket self-join would shuffle each document's shingle set once
    # per band (16x) and then push two full arrays per pair row
    # through the dropDuplicates exchange; on the 10x bench corpus
    # that wide plan spent 3x the wall of this one. Shingles re-join
    # from the persisted signature table only for pairs that survive
    # dedup — each document's array crosses the wire once per side.
    left = buckets.select("band", "bucket", F.col("doc_id").alias("id_a"))
    right = buckets.select("band", "bucket", F.col("doc_id").alias("id_b"))
    ids = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = ids.join(
        sigs.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")),
        "id_a",
    ).join(
        sigs.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = pairs.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    )
    if threshold is not None:
        out = out.where(F.col("jaccard") >= threshold)
    return _finalize(out, [sigs] + ([big] if big is not None else []), eager)


# ----------------------------------------------------------------- simhash


def _simhash_udf():
    @F.pandas_udf(T.LongType())
    def simhash(shingles: pd.Series) -> pd.Series:
        res = np.zeros(len(shingles), dtype=np.uint64)
        bitpos = np.arange(64, dtype=np.uint64)
        for i, arr in enumerate(shingles):
            if arr is None or len(arr) == 0:
                continue
            x = np.asarray(arr, dtype=np.int64).astype(np.uint64)[:, None]
            ones = ((x >> bitpos[None, :]) & np.uint64(1)).sum(axis=0)
            maj = ones * 2 > len(arr)
            res[i] = np.bitwise_or.reduce(
                (maj.astype(np.uint64) << bitpos)
            )
        return pd.Series(res.astype(np.int64))

    return simhash


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, simhash LONG): majority-vote bit signature over
    shingle hashes."""
    src = _rebalance_for_udf(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    )
    sh = src.select("doc_id", _shingle_col("_text", shingle_k).alias("shingles"))
    return sh.select("doc_id", _simhash_udf()(F.col("shingles")).alias("simhash"))


def _simhash_chunk_buckets(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """(k+1)-chunk banding of the 64-bit signature (pigeonhole: any
    pair within Hamming k agrees on ≥1 chunk)."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunk_structs = [
        F.struct(
            F.lit(ci).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), ci * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for ci in range(n_chunks)
    ]
    return sigs.select(
        "*",
        F.explode(F.array(*chunk_structs)).alias("cc"),
    ).select(
        *[c for c in sigs.columns],
        F.col("cc.chunk").alias("chunk"),
        F.col("cc.key").alias("key"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 3,
    max_bucket_size: int | None = 10_000,
    eager: bool = True,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming) with Hamming(simhash) <= k, via
    (k+1)-chunk banding (pigeonhole) + exact popcount verify. Chunk
    buckets larger than ``max_bucket_size`` are dropped (logged)."""
    sigs = _eager(simhash_signatures(df, id_col, text_col, shingle_k).persist(), eager)
    buckets, big = _cap_buckets(
        _simhash_chunk_buckets(sigs, max_hamming), ["chunk", "key"], max_bucket_size
    )
    left = buckets.select("chunk", "key", F.col("doc_id").alias("id_a"), F.col("simhash").alias("s_a"))
    right = buckets.select("chunk", "key", F.col("doc_id").alias("id_b"), F.col("simhash").alias("s_b"))
    pairs = (
        left.join(right, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
    out = pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
    return _finalize(out, [sigs] + ([big] if big is not None else []), eager)


def simhash_verified_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
    eager: bool = True,
) -> DataFrame:
    """SimHash-accelerated near-duplicate detection with an **exact**
    verify stage: candidates from (k+1)-chunk simhash banding, then
    exact shingle-set Jaccard over each candidate pair, keeping
    jaccard >= threshold. Unlike the signature-only variant above, the
    emitted value is a pure function of the documents — so an
    independent all-pairs SQL oracle can verify it end-to-end (the
    driver gate); the simhash banding is only the candidate pruner."""
    base = (
        _rebalance_for_udf(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        )
        .select("doc_id", _shingle_col("_text", shingle_k).alias("shingles"))
        .withColumn("simhash", _simhash_udf()(F.col("shingles")))
        .persist()
    )
    _eager(base, eager)
    buckets, big = _cap_buckets(
        _simhash_chunk_buckets(base, max_hamming), ["chunk", "key"], max_bucket_size
    )
    # Same narrow-candidate plan as minhash_lsh_candidates: dedup on
    # bare id pairs, re-join shingles from the persisted base only for
    # survivors (each array crosses the wire once per side instead of
    # once per chunk plus twice per pre-dedup pair row).
    left = buckets.select("chunk", "key", F.col("doc_id").alias("id_a"))
    right = buckets.select("chunk", "key", F.col("doc_id").alias("id_b"))
    ids = (
        left.join(right, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = ids.join(
        base.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")),
        "id_a",
    ).join(
        base.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = pairs.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    return _finalize(out, [base] + ([big] if big is not None else []), eager)


# ----------------------------------------------------------- n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Exact token-n-gram Jaccard pairs (id_a < id_b, jaccard >=
    threshold). Candidates come from minhash band buckets over the
    same n-gram shingles — sub-quadratic regardless of the corpus's
    length distribution."""
    return minhash_lsh_candidates(
        df,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_k=n,
        threshold=threshold,
        seed=seed,
    )


# ------------------------------------------------------- embedding cosine


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
    eager: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold: random-hyperplane
    LSH buckets (single probe) + exact cosine verify inside buckets.
    Recall < 1 by construction (LSH); raise n_probes by lowering
    n_planes for higher recall. Hyperplane buckets larger than
    ``max_bucket_size`` are dropped with a logged warning (same O(b²)
    guard as the minhash/simhash paths — a degenerate bucket, e.g. all
    zero vectors landing in one cell, would otherwise self-join
    quadratically)."""
    from aduana_spark.pipeline.similarity import add_lsh_buckets, _cosine_expr

    tagged = df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"))
    # no _eager barrier here: this path has no band/chunk explode
    # fan-out, so the first real action (_cap_buckets' count, or the
    # final join when uncapped) populates the cache through a single
    # plan branch — a separate warming count would just add one full
    # UDF pass over every vector (ADVICE r5)
    tagged = add_lsh_buckets(tagged, "v", n_planes, seed, bucket_col="bucket").persist()
    buckets, big = _cap_buckets(tagged, ["bucket"], max_bucket_size)
    left = buckets.select("bucket", F.col("doc_id").alias("id_a"), F.col("v").alias("v_a"))
    right = buckets.select("bucket", F.col("doc_id").alias("id_b"), F.col("v").alias("v_b"))
    pairs = left.join(right, "bucket").where(F.col("id_a") < F.col("id_b"))
    cos = _cosine_expr("v_a", "v_b")
    out = pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )
    return _finalize(out, [tagged] + ([big] if big is not None else []), eager)
