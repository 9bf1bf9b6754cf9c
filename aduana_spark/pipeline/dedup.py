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

MinHash-LSH has two executors. A crawl-sized corpus (at most
``LOCAL_MAX_DOCS`` documents) is a few thousand short texts, where a
Spark job costs more than its data (SparkTune, EDBT 2019): there
Spark runs only the tokenizer, fetched in one Arrow batch, and the
driver shingles, signs, bands and verifies in numpy (executor
``local``), returning the same rows as the distributed plan (executor
``spark``), jaccard bit for bit. Each call logs its executor, sizes
and wall in one INFO line on ``aduana_spark.pipeline``.
"""

from __future__ import annotations

import logging
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aduana_spark.functions.urls import utf8_buffers, xxhash64_np

logger = logging.getLogger("aduana_spark.pipeline")

#: inputs of at most this many documents run ``minhash_lsh_candidates``
#: on the driver (see ``_minhash_lsh_local``)
LOCAL_MAX_DOCS = 20_000
#: pair rows (Σ b(b−1)/2 over the capped band buckets) above which the
#: driver hands a call back to the Spark plan
LOCAL_MAX_PAIRS = 4_000_000
#: shingle lookups per batch of the driver's exact-Jaccard verify
_VERIFY_BATCH = 1 << 20

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


def _tokens_col(text_col: str) -> F.Column:
    """The one tokenizer: lower-cased, whitespace runs folded to one
    space, trimmed, split on the space. Both executors use it (the
    local one fetches its output), so their shingles agree."""
    return F.split(F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))), " ")


def _shingle_col(toks_col: str, k: int) -> F.Column:
    """Distinct xxhash64 values of the k-grams of a token column, each
    k-gram its tokens joined by one space; fewer than k tokens make
    one shingle of all of them, a null token list the empty shingle.
    ``toks_col`` must name a projected column (see ``_shingled``):
    given the tokenizer expression itself, Spark evaluates it once per
    shingle, not once per document."""
    toks = F.col(toks_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    )


def _shingled(df: DataFrame, k: int, text_col: str = "_text") -> DataFrame:
    """``df`` with ``text_col`` replaced by its k-shingle set
    ``shingles``: the tokens are a column of their own, projected
    before the shingles that read them."""
    keep = [c for c in df.columns if c != text_col]
    return df.select(*keep, _tokens_col(text_col).alias("_toks")).select(
        *keep, _shingle_col("_toks", k).alias("shingles")
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


def _minhash_keys(num_perm: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 1 << 62, size=num_perm, dtype=np.int64).astype(np.uint64)


def _minhash_udf(num_perm: int, seed: int):
    """num_perm independent hash functions h_i(x) = mix64(x ^ k_i)
    with random 64-bit keys k_i — the standard keyed-mixer minhash
    family (full avalanche ⇒ permutation-like on the shingle-hash
    domain), vectorized over (perm × shingle) in one numpy op."""
    keys = _minhash_keys(num_perm, seed)

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
    buckets: DataFrame, keys: list[str], max_bucket_size: int | None, eager: bool
) -> tuple[DataFrame, DataFrame | None]:
    """Drop candidate buckets larger than ``max_bucket_size`` (the
    O(b²) self-join guard). The oversized-bucket list is tiny by
    construction → broadcast anti-join; with ``eager`` the drop count
    is logged so the cap is never silent (counting is a job, so a lazy
    call applies the cap uncounted). Returns (capped buckets,
    cache-to-free)."""
    if not max_bucket_size:
        return buckets, None
    big = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .where(F.col("_bsz") > max_bucket_size)
        .select(*keys)
        .persist()
    )
    if eager:
        _log_dropped(big.count(), max_bucket_size)
    return buckets.join(F.broadcast(big), keys, "left_anti"), big


def _log_dropped(n_big: int, max_bucket_size: int) -> None:
    if n_big:
        logger.warning(
            "dedup: dropping %d candidate buckets larger than %d docs "
            "(boilerplate guard) — pairs inside them are NOT examined",
            n_big,
            max_bucket_size,
        )


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
    sh = _shingled(src, shingle_k)
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
    Band buckets larger than ``max_bucket_size`` are dropped (logged).

    With ``eager`` an input of at most ``LOCAL_MAX_DOCS`` rows runs on
    the driver (``_minhash_lsh_local``) unless its ids are not
    integral, null or repeated, or its buckets hold more than
    ``LOCAL_MAX_PAIRS`` pair rows; anything else, and ``eager=False``,
    runs the Spark plan. Either way the call logs one INFO line on
    ``aduana_spark.pipeline``."""
    assert num_perm % bands == 0
    t0 = time.time()
    docs = df.count() if eager else None
    if docs is not None and docs <= LOCAL_MAX_DOCS:
        local = _minhash_lsh_local(
            df, id_col, text_col, num_perm, bands, shingle_k, threshold, seed,
            max_bucket_size,
        )
        if local is not None:
            out, candidates, pairs = local
            _log_executor("local", docs, candidates, pairs, t0)
            return out
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
    buckets, big = _cap_buckets(buckets, ["band", "bucket"], max_bucket_size, eager)

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
    out = _finalize(out, [sigs] + ([big] if big is not None else []), eager)
    n_pairs = out.count() if eager else None
    _log_executor(
        "spark", docs, n_pairs if threshold is None else None, n_pairs, t0
    )
    return out


def _log_executor(
    executor: str, docs: int | None, candidates: int | None, pairs: int | None, t0: float
) -> None:
    """One INFO line per ``minhash_lsh_candidates`` call; the fields
    are also LogRecord attributes. Counts the executor did not compute
    (the Spark plan counts no candidates under a threshold, and nothing
    at all without ``eager``) read None."""
    fields = {
        "executor": executor,
        "docs": docs,
        "candidates": candidates,
        "pairs": pairs,
        "wall_sec": round(time.time() - t0, 6),
    }
    logger.info(
        "dedup %s", " ".join(f"{k}={v}" for k, v in fields.items()), extra=fields
    )


def _minhash_lsh_local(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    threshold: float | None,
    seed: int,
    max_bucket_size: int | None,
) -> tuple[DataFrame, int, int] | None:
    """``minhash_lsh_candidates`` on the driver: (pairs, candidates,
    pair rows), or None to leave the call to the Spark plan. Spark runs
    only the tokenizer, fetched once as Arrow; numpy joins and hashes
    the k-grams (``xxhash64_np``, the same shingle values as
    ``_shingle_col``), signs them with the UDF's keyed mixer, buckets
    each band by its exact rows, applies the bucket cap, and verifies
    every candidate pair with exact Jaccard. Declines (None) on
    non-integral, null or repeated ids, and when the capped buckets
    would expand to more than ``LOCAL_MAX_PAIRS`` pair rows — that
    check runs before any pair is built, so driver memory stays
    bounded."""
    id_field = df.select(F.col(id_col)).schema[0]
    if not isinstance(id_field.dataType, T.IntegralType):
        return None
    table = df.select(
        F.col(id_col).alias("doc_id"), _tokens_col(text_col).alias("toks")
    ).toArrow()
    id_arr = table.column("doc_id")
    if id_arr.null_count:
        return None
    ids = id_arr.to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    if (np.diff(ids) == 0).any():
        return None
    # documents are indexed in id order from here on, so a pair of
    # indices i < j is a pair of ids id_a < id_b
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    chunks = [_shingle_hashes(c, shingle_k) for c in table.column("toks").chunks]
    none = [np.zeros(0, np.int64)]
    counts = np.concatenate([c for c, _ in chunks] + none)
    hashes = np.concatenate([h for _, h in chunks] + none)
    doc = rank[np.repeat(np.arange(len(counts)), counts)]
    uniq, sh = np.unique(hashes, return_inverse=True)
    shingles = np.unique(doc * len(uniq) + sh.ravel())  # (doc, shingle) set, sorted
    doc, sh = np.divmod(shingles, len(uniq))
    sizes = np.bincount(doc, minlength=len(ids))
    sig = _local_signatures(uniq, sh, sizes, num_perm, seed)
    members, groups = _band_buckets(sig, bands, max_bucket_size)
    if int((groups * (groups - 1) // 2).sum()) > LOCAL_MAX_PAIRS:
        return None
    a, b = _bucket_pairs(members, groups, len(ids))
    inter = _intersections(shingles, sizes, len(uniq), a, b)
    union = sizes[a] + sizes[b] - inter
    jaccard = np.divide(inter, union, out=np.zeros(len(a)), where=union > 0)
    candidates = len(a)
    if threshold is not None:
        keep = jaccard >= threshold
        a, b, jaccard = a[keep], b[keep], jaccard[keep]
    arrow_id = id_arr.type
    out = pa.table(
        {
            "id_a": pa.array(ids[a], type=arrow_id),
            "id_b": pa.array(ids[b], type=arrow_id),
            "jaccard": pa.array(jaccard, type=pa.float64()),
        }
    )
    schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType, id_field.nullable),
            T.StructField("id_b", id_field.dataType, id_field.nullable),
            T.StructField("jaccard", T.DoubleType(), True),
        ]
    )
    return df.sparkSession.createDataFrame(out, schema=schema), candidates, len(a)


def _shingle_hashes(toks: pa.ListArray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-document shingle counts and the xxhash64 of every shingle,
    document by document, for one Arrow chunk of token lists: the
    values ``_shingle_col`` hashes, duplicates included. The tokens
    are laid out one space apart in a single buffer, so each k-gram is
    one contiguous byte span of it."""
    loffs = toks.offsets.to_numpy().astype(np.int64)
    ntok = np.diff(loffs)
    ntok[toks.is_null().to_numpy(zero_copy_only=False)] = 0
    data, so = utf8_buffers(toks.values)
    lo, hi = loffs[0], loffs[-1]
    tlen = np.diff(so[lo : hi + 1])
    tstart = so[lo:hi] - so[lo] + np.arange(hi - lo)
    spaced = np.full(int(tlen.sum()) + (hi - lo), 0x20, dtype=np.uint8)
    spaced[np.arange(tlen.sum()) + np.repeat(np.arange(hi - lo), tlen)] = data[so[lo] : so[hi]]
    per_doc = np.maximum(ntok - k, 0) + 1
    doc = np.repeat(np.arange(len(ntok)), per_doc)
    first = loffs[:-1][doc] - lo
    g = first + np.arange(len(doc)) - np.repeat(np.cumsum(per_doc) - per_doc, per_doc)
    last = np.minimum(g + k, first + ntok[doc]) - 1
    starts = np.zeros(len(doc), dtype=np.int64)
    lengths = np.zeros(len(doc), dtype=np.int64)
    full = ntok[doc] > 0  # a null token list is one empty shingle
    starts[full] = tstart[g[full]]
    lengths[full] = tstart[last[full]] + tlen[last[full]] - starts[full]
    return per_doc, xxhash64_np(spaced, starts, lengths)


def _local_signatures(
    uniq: np.ndarray, sh: np.ndarray, sizes: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(docs, num_perm) MinHash signatures as uint64, equal to the
    UDF's: each permutation mixes every distinct shingle hash once and
    takes the per-document minimum over the sorted (doc, shingle) set."""
    x = uniq.astype(np.uint64)
    seg = np.cumsum(sizes) - sizes
    sig = np.empty((len(sizes), num_perm), dtype=np.uint64)
    for p, key in enumerate(_minhash_keys(num_perm, seed)):
        sig[:, p] = np.minimum.reduceat(_mix64(x ^ key)[sh], seg) if len(sh) else 0
    return sig


def _band_buckets(
    sig: np.ndarray, bands: int, max_bucket_size: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """Band buckets keyed by the band's exact signature rows: the
    member documents bucket by bucket (ascending within a bucket) and
    the bucket sizes, with buckets above ``max_bucket_size`` dropped
    and logged as on the Spark plan."""
    n, r = sig.shape[0], sig.shape[1] // bands
    rows = sig.reshape(n, bands, r).transpose(1, 0, 2).reshape(bands * n, r)
    band = np.repeat(np.arange(bands), n)
    order = np.lexsort([rows[:, c] for c in range(r - 1, -1, -1)] + [band])
    rows, band = rows[order], band[order]
    edge = np.ones(len(order), dtype=bool)
    edge[1:] = (band[1:] != band[:-1]) | (rows[1:] != rows[:-1]).any(axis=1)
    starts = np.flatnonzero(edge)
    sizes = np.diff(np.append(starts, len(order)))
    members = order % n if n else order
    if max_bucket_size:
        big = sizes > max_bucket_size
        _log_dropped(int(big.sum()), max_bucket_size)
        members = members[np.repeat(~big, sizes)]
        sizes = sizes[~big]
    return members, sizes


def _bucket_pairs(
    members: np.ndarray, sizes: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Every distinct pair i < j of documents that share a bucket,
    sorted: the bucket self-join with ``id_a < id_b`` and its dedup."""
    end = np.repeat(np.cumsum(sizes), sizes)
    pos = np.arange(len(members))
    partners = end - pos - 1
    first = np.repeat(pos + 1, partners)
    right = first + np.arange(len(first)) - np.repeat(np.cumsum(partners) - partners, partners)
    key = np.unique(members[np.repeat(pos, partners)] * n + members[right])
    return np.divmod(key, n) if n else (key, key)


def _intersections(
    shingles: np.ndarray, sizes: np.ndarray, width: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """|S_a ∩ S_b| for each pair, with ``shingles`` the sorted
    ``doc * width + shingle`` keys: each shingle of the pair's smaller
    set is looked up among the larger set's keys, about
    ``_VERIFY_BATCH`` lookups at a time."""
    swap = sizes[a] > sizes[b]
    small, large = np.where(swap, b, a), np.where(swap, a, b)
    seg = np.cumsum(sizes) - sizes
    index = pd.Index(shingles)
    ends = np.cumsum(sizes[small])
    cuts = np.searchsorted(ends, np.arange(_VERIFY_BATCH, ends[-1] if len(a) else 0, _VERIFY_BATCH))
    inter = np.zeros(len(a), dtype=np.int64)
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(a)]):
        n = sizes[small[lo:hi]]
        pair = np.repeat(np.arange(lo, hi), n)
        at = np.repeat(seg[small[lo:hi]] - (np.cumsum(n) - n), n) + np.arange(len(pair))
        hit = index.get_indexer(shingles[at] % width + large[pair] * width) >= 0
        inter[lo:hi] = np.bincount(pair - lo, weights=hit, minlength=hi - lo)
    return inter


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
    sh = _shingled(src, shingle_k)
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
        _simhash_chunk_buckets(sigs, max_hamming), ["chunk", "key"], max_bucket_size, eager
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
        _shingled(
            _rebalance_for_udf(
                df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
            ),
            shingle_k,
        )
        .withColumn("simhash", _simhash_udf()(F.col("shingles")))
        .persist()
    )
    _eager(base, eager)
    buckets, big = _cap_buckets(
        _simhash_chunk_buckets(base, max_hamming), ["chunk", "key"], max_bucket_size, eager
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
    buckets, big = _cap_buckets(tagged, ["bucket"], max_bucket_size, eager)
    left = buckets.select("bucket", F.col("doc_id").alias("id_a"), F.col("v").alias("v_a"))
    right = buckets.select("bucket", F.col("doc_id").alias("id_b"), F.col("v").alias("v_b"))
    pairs = left.join(right, "bucket").where(F.col("id_a") < F.col("id_b"))
    cos = _cosine_expr("v_a", "v_b")
    out = pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )
    return _finalize(out, [tagged] + ([big] if big is not None else []), eager)
