"""Per-domain crawl-rate tracking ("domain temperature").

Reference: ``DomainTemp`` (/root/reference/lib/src/domain_temp.c:9-62,
model derivation doc/library.rst:423-491): a fixed-size table of
{domain_hash, temperature}; on each crawl every entry decays by
``max(0, 1 - (t - t0)/T)`` and the crawled domain gets ``+1`` — a
linear-decay estimate of crawls-in-the-last-T-seconds. The politeness
gate admits a request only when ``temp(domain) <= crawl_limit``
(bf_scheduler.c:716-721), and the escalation loop relaxes the limit
geometrically soft→hard in 5 steps (bf_scheduler.c:782-804).

Batch analogs over a crawl-event log (domain STRING, ts TIMESTAMP):

- ``mode='linear'``: Σ max(0, 1 - (now-t)/T) — the reference's decay
  shape applied per event (the incremental table is the streaming
  approximation of exactly this sum),
- ``mode='window'``: plain count of events in (now-T, now].

Both are one groupBy with a map-side-combinable sum; a "fixed table
evicting the minimum" (domain_temp.c:44-53) is unnecessary — the
aggregation is already bounded by the number of active domains.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def domain_temperature(
    crawl_events: DataFrame,
    now: float,
    window_sec: float = 60.0,
    mode: str = "linear",
    domain_col: str = "domain",
    ts_col: str = "ts",
) -> DataFrame:
    """(domain, temp) from a crawl-event log."""
    age = F.lit(now) - F.unix_timestamp(F.col(ts_col)).cast("double")
    if mode == "linear":
        w = F.greatest(F.lit(0.0), F.lit(1.0) - age / F.lit(window_sec))
    elif mode == "window":
        w = F.when(age <= window_sec, F.lit(1.0)).otherwise(F.lit(0.0))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return (
        crawl_events.where(age >= 0)
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(F.sum(w).alias("temp"))
        .where(F.col("temp") > 0)
    )


def domain_temperature_arrow(
    domains: pa.ChunkedArray, ts: pa.ChunkedArray, now: float, window_sec: float
) -> tuple[pa.Array, np.ndarray]:
    """:func:`domain_temperature` in ``mode='linear'`` on the driver,
    from an event log's domain and timestamp columns: the domains and
    their temperatures. Ages are taken in whole seconds, as Spark's
    ``unix_timestamp`` takes them; events without a domain are left
    out, as the Spark join never matches a null domain."""
    us = pc.cast(ts, pa.int64())
    keep = pc.and_(pc.is_valid(domains), pc.is_valid(us))
    sec = pc.filter(us, keep).to_numpy() // 1_000_000
    age = now - sec.astype(np.float64)
    recent = age >= 0
    codes = pc.dictionary_encode(pc.filter(domains, keep).combine_chunks())
    weight = np.maximum(0.0, 1.0 - age[recent] / window_sec)
    temp = np.bincount(
        codes.indices.to_numpy()[recent], weights=weight, minlength=len(codes.dictionary)
    )
    return codes.dictionary, temp


def escalated_limits(
    soft_limit: float, hard_limit: float, steps: int = 5
) -> list[float]:
    """T2 (bf_scheduler.c:782-804): when a request comes up short under
    the soft per-domain rate limit, retry with the limit growing
    geometrically soft→hard: limit_k = soft * exp(k * ln(hard/soft) /
    (steps-1))."""
    if steps <= 1 or soft_limit <= 0:
        return [hard_limit]
    k = math.log(hard_limit / soft_limit) / (steps - 1)
    return [soft_limit * math.exp(k * s) for s in range(steps)]


def update_due(n_old: float, n_new: float, min_new: int = 100,
               growth: float = 0.01) -> bool:
    """U1 (bf_scheduler.c:537-549, defaults bf_scheduler.h:35-39):
    recompute scores only when at least ``min_new`` pages arrived AND
    the graph grew by ``growth`` (1%)."""
    return (n_new >= min_new) and (n_new >= n_old * growth)
