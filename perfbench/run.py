"""aduana-spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads:

- ``crawl_rank``: the scored crawl (extraction, builder, bulk page_info
  MERGE, personalized PageRank and HITS with checkpoints, frontier
  re-key and top-k), then MinHash-LSH dedup of a salted x10 corpus.
  An operation is one whole pass. The traced run adds components,
  label propagation and triangles on the crawl's graph.
- ``serve_frontier``: ``nproc`` closed-loop spider clients against
  ``AduanaServer`` over ``api.Backend`` in its own process. An
  operation is one HTTP request.

``--trace 0`` times the workload with tracing off and prints the
end-to-end metrics. ``--trace 1`` runs it once with tracing on (one
pass, or one ``--seconds`` window of requests), prints the per-layer
metrics and the self-time table, and writes the spans to
``.perfbench_out/``. Its operation wall, ``trace.wall_s``, minus the
untraced ``wall_s`` of the same seed (kept in ``.perfbench_out/`` by
the untraced run) is the tracing overhead; both runs start equally
cold, which two runs in one process could not. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
The exit code is non-zero, with no result line, when the benchmark
cannot run at all (for instance without ``aduana_spark``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("crawl_rank", "serve_frontier")

#: span names of the layers the benchmark times
LAYERS = (
    "extraction", "builder", "api.add_batch", "api.update_scores",
    "api.id_edges", "pagerank",
    "hits", "checkpoint", "bf_scheduler.requests", "components", "labelprop",
    "triangles", "dedup", "server.backend",
)
#: modules whose Spark jobs and tasks are counted
MODULES = ("extraction", "builder", "api", "pagerank", "hits", "checkpoint",
           "bf_scheduler", "components", "labelprop", "triangles", "dedup", "server")
LOOPS = ("pagerank", "hits", "components", "labelprop")
#: busy-time metric -> the span whose mean duration per call it reports
BUSY = {
    "extraction.busy_s": "extraction",
    "builder.busy_s": "builder",
    "api.add_batch_s": "api.add_batch",
    "api.update_scores_s": "api.update_scores",
    "pagerank.busy_s": "pagerank",
    "hits.busy_s": "hits",
    "components.busy_s": "components",
    "labelprop.busy_s": "labelprop",
    "triangles.busy_s": "triangles",
    "bf_scheduler.requests_s": "bf_scheduler.requests",
    "dedup.busy_s": "dedup",
}
COUNTS = (
    ("datagen.rows", "count"),
    ("extraction.pages", "count"), ("extraction.links", "count"),
    ("builder.edges_in", "count"), ("builder.edges_out", "count"),
    ("api.page_info_rows", "count"), ("api.schedule_rows", "count"),
    ("bf_scheduler.rows_per_url", "ratio"),
    ("triangles.count", "count"),
    ("checkpoint.write_s", "s"), ("checkpoint.shards", "count"),
    ("checkpoint.bytes", "B"),
    ("dedup.candidates", "count"), ("dedup.pairs", "count"),
    ("server.backend_s", "s"), ("server.queue_s", "s"),
    ("session.start_s", "s"), ("datagen.gen_s", "s"), ("trace.wall_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, with its unit, in the order
    BENCHMARK.json lists them. Each workload reports all of them; a
    layer it does not exercise reads 0."""
    names = [(k, "s") for k in BUSY]
    for algo in LOOPS:
        names += [(f"{algo}.superstep_p50_s", "s"), (f"{algo}.supersteps", "count")]
    names += [("pagerank.setup_s", "s"), ("hits.setup_s", "s"),
              ("pagerank.edges_per_s", "1/s")]
    names += list(COUNTS)
    for mod in MODULES:
        names += [(f"{mod}.jobs", "count"), (f"{mod}.tasks", "count"),
                  (f"{mod}.failed_tasks", "count")]
    names += [(f"{layer}.self_s", "s") for layer in LAYERS + ("unattributed",)]
    return names


def _metric(value, unit):
    return {"value": value, "unit": unit}


def layer_table(spans: list[dict], roots: list[dict]) -> dict:
    """Self and busy seconds and call counts per layer over the given
    root spans, with the roots' own self time as ``unattributed``."""
    self_s: dict[str, float] = {}
    busy: dict[str, float] = {}
    calls: dict[str, int] = {}
    for root in roots:
        for name, v in harness.self_times(spans, root["id"]).items():
            self_s[name] = self_s.get(name, 0.0) + v
    root_ids = {r["id"] for r in roots}
    for s in spans:
        if s["id"] not in root_ids:
            busy[s["name"]] = busy.get(s["name"], 0.0) + s["end"] - s["start"]
            calls[s["name"]] = calls.get(s["name"], 0) + 1
    return {"self_s": self_s, "busy_s": busy, "calls": calls, "roots": len(roots),
            "total_s": sum(r["end"] - r["start"] for r in roots)}


def per_layer_metrics(table: dict, spans: list[dict], counts: dict, n_ops: int) -> dict:
    """The per-layer metrics of one traced run. Times are per call of
    the layer (busy) or per operation (self, jobs, tasks): one pass
    with its analytics legs on crawl_rank, one HTTP request on
    serve_frontier."""
    values: dict = {}
    for key, layer in BUSY.items():
        n = table["calls"].get(layer, 0)
        values[key] = table["busy_s"].get(layer, 0.0) / n if n else 0.0
    for layer in LAYERS + ("unattributed",):
        values[f"{layer}.self_s"] = table["self_s"].get(layer, 0.0) / n_ops
    for mod in MODULES:
        sel = [s for s in spans if s["name"].split(".")[0] == mod]
        for field in ("jobs", "tasks", "failed_tasks"):
            values[f"{mod}.{field}"] = sum(s.get(field, 0) for s in sel) / n_ops
    for algo in LOOPS:
        walls = counts.get(f"{algo}.superstep_walls", [])
        values[f"{algo}.supersteps"] = len(walls)
        values[f"{algo}.superstep_p50_s"] = median(walls) if walls else 0.0
        if algo in ("pagerank", "hits"):
            busy = values[f"{algo}.busy_s"]
            values[f"{algo}.setup_s"] = busy - sum(walls) if walls else 0.0
    pr_walls = counts.get("pagerank.superstep_walls", [])
    values["pagerank.edges_per_s"] = (
        counts.get("pagerank.edges", 0) * len(pr_walls) / sum(pr_walls) if pr_walls else 0.0
    )
    for key, _ in COUNTS:
        values[key] = counts.get(key, 0)
    return {name: _metric(values[name], unit) for name, unit in per_layer_names()}


# ------------------------------------------------------------ workloads


def run_crawl_rank(args, scratch: harness.Scratch, out: dict) -> None:
    from perfbench.crawl_rank import CrawlRank

    t0 = time.time()
    spark = harness.start_spark(scratch, "perfbench-crawl_rank")
    out["cleanup"].append(lambda: harness.stop_spark(spark))
    session_start_s = time.time() - t0
    out["conf"] = harness.effective_conf(spark)
    wl = CrawlRank(spark, scratch, args.seed)
    wl.setup()
    out["setup_s"] = time.time() - t0
    out["sizes"] = wl.sizes

    # exactly one pass, cold, as for a scoring job that runs once per
    # process; a traced run's pass compares with an untraced one
    tracer = harness.Tracer(bool(args.trace), spark)
    out["attempted"] += 1
    try:
        wall, cpu, failed = wl.run_pass(tracer, "pass1")
    except Exception:
        traceback.print_exc()
        out["failed"] += 1
        out["failures"].append("pass raised")
        return
    if failed:
        out["failed"] += 1
        out["failures"] += failed
    pages_per_s = wl.sizes["pages"] / wall
    out["report"] = {"wall_s": (wall, "s", "one cold pass"),
                     "pages_per_s": (pages_per_s, "1/s", ""),
                     "cpu_s": (cpu, "s", "CPU of the process tree over the pass")}
    out["metrics"] = {
        "wall_s": _metric(wall, "s"),
        "ops_per_s": _metric(pages_per_s, "1/s"),
        "cpu_s": _metric(cpu, "s"),
        "setup_s": _metric(out["setup_s"], "s"),
    }
    if not args.trace:
        return

    tracer.collect_jobs()
    counts = dict(wl.layer_counts)
    counts["dedup.candidates"] = wl.count_candidates()
    counts["session.start_s"] = session_start_s
    counts["datagen.gen_s"] = wl.gen_s
    counts["datagen.rows"] = wl.datagen_rows
    counts["trace.wall_s"] = wall
    # two roots: the pass, then the analytics legs
    roots = [s for s in tracer.spans if s["parent"] is None]
    out["table"] = layer_table(tracer.spans, roots)
    out["per_layer"] = per_layer_metrics(out["table"], tracer.spans, counts, n_ops=1)
    out["spans"] = tracer.spans


def run_serve_frontier(args, scratch: harness.Scratch, out: dict) -> None:
    from perfbench.serve_frontier import ServeFrontier

    wl = ServeFrontier(scratch, args.seed, bool(args.trace))
    out["cleanup"].append(wl.close)
    t0 = time.time()
    wl.setup()
    setup_s = time.time() - t0
    wall = wl.run(args.seconds)
    out["attempted"] += len(wl.ops)
    failed = wl.check()
    out["failed"] += min(len(wl.ops), len(failed))
    out["failures"] += failed
    ops = [o for o in wl.ops if o["kind"] != "error"]
    out["setup_s"] = setup_s
    out["sizes"] = wl.sizes
    out["conf"] = wl.conf
    if not ops:
        return
    lat = {}
    for name, kind in (("ingest", "post"), ("request", "get")):
        xs = [o["end"] - o["start"] for o in ops if o["kind"] == kind]
        if xs:
            label, value = harness.tail(xs)
            lat[f"{name}_p50_s"] = (median(xs), "s", f"n={len(xs)}")
            lat[f"{name}_tail_s"] = (value, "s", f"{label}, n={len(xs)}")
    if "ingest_p50_s" not in lat:
        out["failures"].append("no POST /crawled completed")
        return
    # wall_s is the POST /crawled round trip, the one-row MERGE path a
    # group-commit change must move; a median over POSTs alone does not
    # jump between the GET and POST latency clusters
    report = {"wall_s": (lat["ingest_p50_s"][0], "s", "POST /crawled round trip, p50"),
              "requests_per_s": (len(ops) / wall, "1/s", f"{len(ops)} ops in {wall:.1f} s"),
              **lat}
    report["cpu_s"] = (wl.cpu_s / len(ops), "s", "CPU of the server process tree per request")
    out["report"] = report
    out["metrics"] = {
        "wall_s": _metric(report["wall_s"][0], "s"),
        "ops_per_s": _metric(report["requests_per_s"][0], "1/s"),
        "cpu_s": _metric(report["cpu_s"][0], "s"),
        "setup_s": _metric(setup_s, "s"),
    }
    if not args.trace:
        return

    stats = wl.stats()
    wl.close()
    by_trace: dict = {}
    for sp in stats["spans"]:
        by_trace.setdefault(sp["trace"], []).append(sp)
    calls = {(c["kind"], json.dumps(c["key"])): c for c in stats["calls"]}
    spans: list[dict] = []
    roots: list[dict] = []
    backend = 0.0
    for i, op in enumerate(ops):
        # one trace per HTTP request: the client round trip is the root,
        # the server's backend span and its api children hang below it
        root = {"id": f"r{i}", "name": f"http.{op['kind']}", "parent": None,
                "start": op["start"], "end": op["end"]}
        roots.append(root)
        spans.append(root)
        call = calls.get((op["kind"], json.dumps(op["key"])))
        if call is None:
            continue
        backend += call["end"] - call["start"]
        for sp in by_trace.get(call["trace"], []):
            parent = root["id"] if sp["parent"] is None else f"r{i}:{sp['parent']}"
            spans.append(dict(sp, id=f"r{i}:{sp['id']}", parent=parent))
    n = max(1, len(roots))
    rtt = sum(r["end"] - r["start"] for r in roots)
    counts = {
        "server.backend_s": backend / n,
        "server.queue_s": (rtt - backend) / n,
        "api.page_info_rows": stats.get("page_info_rows", 0),
        "api.schedule_rows": stats.get("schedule_rows", 0),
        "session.start_s": wl.session_start_s,
        "datagen.gen_s": wl.gen_s,
        "datagen.rows": wl.datagen_rows,
        "trace.wall_s": report["wall_s"][0],
    }
    # the schedule only grows, so its final size bounds the rows each
    # requests() call examined; counting it per call would put a job of
    # the benchmark's own inside the timed backend calls
    n_req = sum(sp["name"] == "bf_scheduler.requests" for sp in stats["spans"])
    n_urls = sum(len(o["key"]) for o in ops if o["kind"] == "get")
    if n_urls:
        counts["bf_scheduler.rows_per_url"] = stats["schedule_rows"] * n_req / n_urls
    out["table"] = layer_table(spans, roots)
    out["per_layer"] = per_layer_metrics(out["table"], spans, counts, n_ops=n)
    out["spans"] = spans


# ---------------------------------------------------------------- main


def _print_report(args, out: dict, result: dict) -> None:
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print("inputs  " + "  ".join(f"{k}={v}" for k, v in out["sizes"].items()))
    for k, v in out["conf"].items():
        print(f"conf    {k} = {v}")
    for name, (value, unit, note) in out.get("report", {}).items():
        print(f"{name:<18} {value:12.4f} {unit:<5} {note}")
    print(f"{'setup_s':<18} {out['setup_s']:12.4f} s")
    print(f"{'peak_rss_mb':<18} {out['peak_rss_mb']:12.1f} MB")
    print(f"{'error_frac':<18} {result['failed'] / result['attempted']:12.4f}"
          f"       {result['failed']}/{result['attempted']}")
    for f in out["failures"]:
        print(f"FAILED  {f}")
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    untraced = os.path.join(harness.OUT_DIR, f"wall-{args.workload}-seed{args.seed}.json")
    if "table" not in out:
        # kept for the tracing overhead of a later traced run of this seed
        with open(untraced, "w") as fh:
            json.dump({"wall_s": out["report"]["wall_s"][0]}, fh)
        return
    table = out["table"]
    basis = ("traced pass and analytics walls" if args.workload == "crawl_rank"
             else f"summed round trips of {table['roots']} HTTP requests")
    print(f"\nself time per layer (traced run; shares of the {basis})")
    print(f"{'layer':<24}{'self_s':>10}{'busy_s':>10}{'share':>8}")
    for name, v in sorted(table["self_s"].items(), key=lambda kv: -kv[1]):
        print(f"{name:<24}{v:10.3f}{table['busy_s'].get(name, 0.0):10.3f}"
              f"{100 * v / table['total_s']:7.1f}%")
    print(f"{'sum':<24}{sum(table['self_s'].values()):10.3f}{'':>10}"
          f"  = {table['total_s']:.3f} s {basis}")
    print()
    for k, v in out["per_layer"].items():
        print(f"{k:<32} {v['value']:14.4f} {v['unit']}")
    traced_wall = out["report"]["wall_s"][0]
    if os.path.exists(untraced):
        with open(untraced) as fh:
            plain = json.load(fh)["wall_s"]
        print(f"tracing overhead: traced wall_s {traced_wall:.4f} - untraced wall_s "
              f"{plain:.4f} = {traced_wall - plain:+.4f} s")
    else:
        print(f"tracing overhead: run --trace 0 with seed {args.seed} first to compare "
              f"with traced wall_s {traced_wall:.4f} s")
    path =os.path.join(harness.OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({k: out[k] for k in ("spans", "table", "per_layer")}, fh)
    print(f"spans written to {os.path.relpath(path, harness.ROOT)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import aduana_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch area
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = harness.Scratch(args.workload)
    rss = harness.RssSampler().start()
    out: dict = {"attempted": 0, "failed": 0, "failures": [], "cleanup": []}
    run = run_crawl_rank if args.workload == "crawl_rank" else run_serve_frontier
    try:
        run(args, scratch, out)
    finally:
        out["peak_rss_mb"] = rss.stop()
        for fn in reversed(out["cleanup"]):
            try:
                fn()
            except Exception:
                traceback.print_exc()
        scratch.close()
    if "metrics" not in out or (args.trace and "per_layer" not in out):
        print("no measurement completed", file=sys.stderr)
        return 1
    metrics = dict(out["metrics"], peak_rss_mb=_metric(out["peak_rss_mb"], "MB"))
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": out["per_layer"] if args.trace else metrics,
    }
    _print_report(args, out, result)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
