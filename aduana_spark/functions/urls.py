"""URL domain extraction / hashing (reference: lib/src/util.c, page_db.c).

Two implementations are provided:

- ``ref_url_domain`` / ``ref_same_domain``: exact pure-Python
  replicas of the reference parser (``url_domain`` at
  /root/reference/lib/src/util.c:182-255, ``same_domain`` at
  util.c:257-280) including its quirky edge cases (single '@' only,
  at most two colons after the scheme, fragments without a path kept
  inside the host). Used for test oracles and inside Arrow UDF
  batches where the exact semantics matter.
- ``domain_col`` / ``same_domain_col``: native Column expressions
  (regexp, JVM-side, whole-stage-codegen friendly) that agree with
  the reference on well-formed http(s) URLs — the hot path for
  grouping / bucketing / cross-domain filtering at scale.

Hashing: the reference keys pages by
``XXH32(domain) << 32 | XXH32(url)`` (page_db.c:502-514) purely for
LMDB key locality. We key by URL and keep an explicit ``domain``
column instead — locality comes from partitioning/bucketing by
domain, and ids from ``xxhash64(url)`` (``url_hash_col``).
``xxhash64_np`` is the same hash in numpy, bit for bit, for code that
hashes strings on the driver and must agree with Spark's.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa

# Host = everything after scheme (+ optional userinfo) up to ':' / '/'.
# Mirrors util.c:182-255 for well-formed URLs: scheme must be http or
# https; userinfo may contain one ':'; '#' without a preceding '/'
# stays inside the host (the C parser only splits on '/' and ':').
_DOMAIN_RE = r"^https?://(?:[^/@]*@)?([^/:]+)"


def ref_url_domain(url: str) -> str | None:
    """Exact replica of url_domain (util.c:182-255).

    Returns the domain substring, or None when the C parser returns -1.
    """
    n = len(url)
    i = 0
    # read "http[s]://" or fail
    if url[:4] != "http":
        return None
    i = 4
    if i < n and url[i] == "s":
        i += 1
    if url[i : i + 3] != "://":
        return None
    i += 3
    slash2 = i - 1
    colon2 = colon3 = at = slash3 = -1
    n_colon = 1
    while slash3 == -1:
        c = url[i] if i < n else "\0"
        if c == "\0":
            slash3 = i
        elif c == ":":
            n_colon += 1
            if n_colon == 2:
                colon2 = i
            elif n_colon == 3:
                if at == -1:
                    return None
                colon3 = i
            else:
                return None
        elif c == "@":
            if at == -1:
                at = i
            else:
                return None
        elif c == "/":
            slash3 = i
        i += 1
    if at == -1:
        start = slash2 + 1
        end = (colon2 - 1) if colon2 != -1 else (slash3 - 1)
    else:
        start = at + 1
        end = (colon3 - 1) if colon3 != -1 else (slash3 - 1)
    return url[start : end + 1]


def ref_same_domain(url1: str, url2: str) -> bool:
    """Exact replica of same_domain (util.c:257-280)."""
    d1 = ref_url_domain(url1)
    d2 = ref_url_domain(url2)
    if d1 is not None:
        return d2 is not None and d1 == d2
    if d2 is not None:
        return False
    return url1 == url2


def domain_col(url: Column | str) -> Column:
    """Native domain extraction; NULL when the URL does not parse."""
    url = F.col(url) if isinstance(url, str) else url
    d = F.regexp_extract(url, _DOMAIN_RE, 1)
    return F.nullif(d, F.lit("")).alias("domain")


def domain_arrow(urls: pa.Array | pa.ChunkedArray) -> pa.Array:
    """:func:`domain_col` of an Arrow string array on the driver: the
    same pattern in pyarrow's RE2, null where it does not match."""
    import pyarrow.compute as pc

    pattern = _DOMAIN_RE.replace("([^/:]+)", "(?P<domain>[^/:]+)")
    return pc.struct_field(pc.extract_regex(urls, pattern), "domain")


def same_domain_col(url1: Column | str, url2: Column | str) -> Column:
    """Native same-domain predicate with the reference's fallback:
    when neither URL parses, compare the full strings (util.c:274-279).
    """
    url1 = F.col(url1) if isinstance(url1, str) else url1
    url2 = F.col(url2) if isinstance(url2, str) else url2
    d1, d2 = domain_col(url1), domain_col(url2)
    both_unparsed = d1.isNull() & d2.isNull()
    return F.when(both_unparsed, url1 == url2).otherwise(
        d1.isNotNull() & d2.isNotNull() & (d1 == d2)
    )


def url_hash_col(url: Column | str) -> Column:
    """64-bit stable page id (replaces page_db_hash, page_db.c:502-514).

    xxhash64 is JVM-native and shuffle-friendly. NOTE: at 10^12
    vertices a raw 64-bit hash has a non-trivial collision expectation;
    use ``graph.builder.assign_dense_ids`` for a collision-free dense
    id assignment when exact vertex identity matters at that scale.
    """
    url = F.col(url) if isinstance(url, str) else url
    return F.xxhash64(url).alias("id")


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_U = {p: np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5)}


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _U[_P2], 31) * _U[_P1]


def _words(data: np.ndarray, pos: np.ndarray, width: int, count: int = 1) -> np.ndarray:
    """``count`` little-endian unsigned words of ``width`` bytes read
    at each byte offset in ``pos``, as uint64 of shape (len(pos), count)."""
    raw = data[pos[:, None] + np.arange(width * count)]
    return raw.view(f"<u{width}").astype(np.uint64)


def xxhash64_np(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray, seed: int = 42
) -> np.ndarray:
    """XXH64 of each byte span ``data[starts[i] : starts[i] + lengths[i]]``
    as int64: Spark's ``xxhash64`` of a string column (seed 42 over its
    UTF-8 bytes), bit for bit. ``data`` is a uint8 array; every pass
    is one numpy operation over all the spans that still have bytes
    left, so a batch costs a few dozen array passes whatever its size
    (32-byte stripes, then 8-byte words, one 4-byte word, tail bytes)."""
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    h = np.full(len(starts), (seed + _P5) & _M64, dtype=np.uint64)
    stripes = lengths // 32
    big = np.nonzero(stripes)[0]
    if len(big):
        v = np.empty((len(big), 4), dtype=np.uint64)
        v[:] = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        for s in range(int(stripes[big].max())):
            act = np.nonzero(stripes[big] > s)[0]
            v[act] = _round(v[act], _words(data, starts[big[act]] + 32 * s, 8, 4))
        acc = _rotl(v[:, 0], 1) + _rotl(v[:, 1], 7) + _rotl(v[:, 2], 12) + _rotl(v[:, 3], 18)
        for i in range(4):
            acc = (acc ^ _round(np.zeros_like(acc), v[:, i])) * _U[_P1] + _U[_P4]
        h[big] = acc
    h += lengths.astype(np.uint64)
    pos = starts + 32 * stripes
    rem = lengths - 32 * stripes
    for w in range(3):
        act = np.nonzero(rem >= 8 * (w + 1))[0]
        k1 = _round(np.zeros(len(act), dtype=np.uint64), _words(data, pos[act] + 8 * w, 8)[:, 0])
        h[act] = _rotl(h[act] ^ k1, 27) * _U[_P1] + _U[_P4]
    pos += rem & ~7
    rem &= 7
    act = np.nonzero(rem >= 4)[0]
    k1 = _words(data, pos[act], 4)[:, 0] * _U[_P1]
    h[act] = _rotl(h[act] ^ k1, 23) * _U[_P2] + _U[_P3]
    pos += rem & 4
    rem &= 3
    for b in range(3):
        act = np.nonzero(rem > b)[0]
        k1 = data[pos[act] + b].astype(np.uint64) * _U[_P5]
        h[act] = _rotl(h[act] ^ k1, 11) * _U[_P1]
    h ^= h >> np.uint64(33)
    h *= _U[_P2]
    h ^= h >> np.uint64(29)
    h *= _U[_P3]
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def utf8_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """The bytes (not copied) and value offsets of an Arrow string
    array: string ``i`` is ``data[offsets[i] : offsets[i + 1]]``."""
    import pyarrow as pa  # not at module level: the server imports this module

    if len(arr) == 0:  # may come without an offsets buffer
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    width = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    _, off, buf = arr.buffers()
    offsets = np.frombuffer(off, dtype=width)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.zeros(0, np.uint8)
    return data, offsets.astype(np.int64)
