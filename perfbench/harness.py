"""Benchmark plumbing shared by the workloads: the host-fit Spark
session, the per-run scratch area, process-tree RSS sampling, span
tracing with self times, per-layer Spark job/task counters and the
summary statistics.

Nothing here touches ``aduana_spark`` internals: layers are timed from
outside, around the calls the benchmark makes into them.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch areas and trace output live inside the checkout
SCRATCH_BASE = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    """JVM heap sized from /proc/meminfo: an eighth of MemTotal,
    clamped to [1g, 4g]. The engine's own default (16g with -Xms)
    cannot start on a 15 GB host."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
    return f"{max(1024, min(4096, total_mb // 8))}m"


def spark_conf(scratch: str) -> dict:
    """Every setting the benchmark adds on top of ``session.get_spark``'s
    defaults. All of it is host fit or bookkeeping; the engine's tuning
    (shuffle partitions, AQE, Arrow) is left as shipped."""
    mem = heap_size()
    return {
        "spark.driver.memory": mem,
        # keep the engine's Xms=Xmx policy; no JVM perf files in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads per-layer jobs and tasks back from the
        # status store, so it must still hold a whole pass
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
    }


class Scratch:
    """Per-run directory under the checkout, removed on close even when
    a pass failed."""

    def __init__(self, tag: str):
        self.path = os.path.join(SCRATCH_BASE, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse", "inputs", "checkpoints"):
            os.makedirs(os.path.join(self.path, sub))
        # Python-side temp files (py4j connection info, worker
        # payloads) follow TMPDIR; set it before the JVM starts
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"]

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(SCRATCH_BASE)


# ------------------------------------------------------------ processes


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces: the ppid follows the closing paren
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of a process and its live
    descendants, each with the children it has reaped. Unlike a wall,
    it does not grow while the host's other tenants hold the CPUs."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for processes that are not our children (re-parented
    Python workers) to exit; SIGKILL what is left at the deadline."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM, Python workers, the server process)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- spark


def start_spark(scratch: Scratch, app: str):
    """Host-fit session through the engine's own builder."""
    from aduana_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        master=f"local[{nproc()}]",
        extra_conf=spark_conf(scratch.path),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_conf(spark) -> dict:
    keep = (
        "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
        "spark.local.dir", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.cleaner.periodicGC.interval", "spark.sql.session.timeZone",
        "spark.ui.enabled", "spark.ui.retainedJobs", "spark.ui.retainedStages",
    )
    conf = dict(spark.sparkContext.getConf().getAll())
    return {k: conf[k] for k in keep if k in conf}


def stop_spark(spark) -> None:
    """Stop the session, then the py4j JVM, then wait for the Python
    workers the JVM started."""
    from pyspark import SparkContext

    workers = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(workers, timeout=15)


# -------------------------------------------------------------- tracing


class Tracer:
    """Spans at layer boundaries, kept in memory and written out when
    the run ends. When disabled, ``span`` is a bare pass-through, so
    the timed runs carry no tracing work."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._n = 0

    def _parents(self) -> list:
        if not hasattr(self._stack, "s"):
            self._stack.s = []
        return self._stack.s

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parents = self._parents()
        with self._lock:
            self._n += 1
            sid = self._n
        parent = parents[-1] if parents else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else f"t{sid}"),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        group = f"{rec['trace']}/{name}/{sid}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
            rec["job_group"] = group
        parents.append(rec)
        try:
            yield rec
        finally:
            parents.pop()
            rec["end"] = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def collect_jobs(self) -> None:
        """Read jobs, tasks and failed tasks of every span's job group
        back from the status store (after the listener bus drained)."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        with contextlib.suppress(Exception):
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        for rec in self.spans:
            group = rec.get("job_group")
            if group is None:
                continue
            jobs = tracker.getJobIdsForGroup(group)
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks + st.numFailedTasks
                        failed += st.numFailedTasks
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = len(jobs), tasks, failed


def self_times(spans: list[dict], root_id) -> dict[str, float]:
    """Self time per span name under ``root_id``: each span's duration
    minus the union of its children's intervals. The root's own self
    time is reported as ``unattributed``."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}

    def covered(s) -> float:
        iv = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
        )
        total, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def walk(s, is_root: bool) -> None:
        name = "unattributed" if is_root else s["name"]
        out[name] = out.get(name, 0.0) + (s["end"] - s["start"]) - covered(s)
        for c in kids.get(s["id"], []):
            walk(c, False)

    walk(by_id[root_id], True)
    return out


# ----------------------------------------------------------------- stats


def tail(xs: list[float]) -> tuple[str, float]:
    """Highest standard percentile with at least ten samples beyond it;
    the maximum when there are fewer than twenty samples."""
    s = sorted(xs)
    n = len(s)
    for level in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - level / 100.0) >= 10:
            idx = min(n - 1, int(level / 100.0 * n))
            return f"p{level:g}", s[idx]
    return "max", s[-1]
