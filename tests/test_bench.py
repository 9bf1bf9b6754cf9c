"""bench.py's output contract and the engine's default driver heap."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench
from aduana_spark.session import driver_heap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the timed headline rows, in run order; an external driver reads them
TIMED_ROWS = [
    "pagerank_1e6",
    "hits_1e4",
    "connected_components",
    "triangle_count",
    "frontier_topk",
    "minhash_lsh",
    "minhash_lsh_10x",
    "embedding_topk",
    "ivf_build_cells",
    "ivf_topk_cells",
    "extract_5k_pages",
    "media_decode_2k",
]


def test_driver_heap_from_meminfo():
    meminfo = "MemTotal:       15728640 kB\nMemFree:         1000000 kB\n"
    assert driver_heap(meminfo) == "1920m"
    assert driver_heap("MemTotal: 4194304 kB\n") == "1024m"  # 4 GB host: floor
    assert driver_heap("MemTotal: 134217728 kB\n") == "4096m"  # 128 GB host: cap
    assert driver_heap("") == "1024m"


def test_headline_query_contamination_adjudicator():
    """``contaminated_queries`` flags a row when steal is >= 2% of its
    window or kernel time is >= 0.6x user time (lock-holder-preemption
    storm). A clean profile, a missing probe and the boundary cases
    must adjudicate exactly."""
    c = bench._query_contaminated
    assert not c(None)
    assert not c({})
    assert not c({"user_pct": 90.0, "system_pct": 5.0, "steal_pct": 0.3})
    assert c({"user_pct": 50.0, "system_pct": 1.0, "steal_pct": 2.0})
    assert c({"user_pct": 50.0, "system_pct": 30.0, "steal_pct": 0.0})
    assert not c({"user_pct": 50.0, "system_pct": 29.9, "steal_pct": 0.0})
    # zero-user window (all-wait query): must not divide by zero
    assert c({"user_pct": 0.0, "system_pct": 0.1, "steal_pct": 0.0})


def test_bench_contract(tmp_path, sf_dir):
    """bench.py starts with the default heap from outside the repo and
    prints the one-line contract: ``value`` is the sum of the 12 timed
    rows; ``pagerank_superstep`` is reported but not summed."""
    env = dict(os.environ)
    env.pop("ADUANA_DRIVER_MEM", None)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert {
        "metric",
        "value",
        "unit",
        "sf",
        "queries",
        "contaminated_queries",
        "pagerank_edges",
        "pagerank_supersteps",
        "pagerank_edges_per_superstep_sec",
        "harness_s",
    } <= set(out)
    assert "scaling" not in out
    assert out["sf"] == float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    rows = list(out["queries"])
    assert rows == TIMED_ROWS[:1] + ["pagerank_superstep"] + TIMED_ROWS[1:]
    assert out["value"] == pytest.approx(
        sum(out["queries"][k] for k in TIMED_ROWS), abs=1e-6
    )
    assert out["harness_s"] > 0
    assert out["pagerank_edges"] > 0 and out["pagerank_supersteps"] > 0
