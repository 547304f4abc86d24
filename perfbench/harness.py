"""Measurement plumbing for the product-path benchmark.

Everything here observes the engine from outside: a Spark session
built like a user's, a /proc sampler for the Python worker processes,
readers for Spark's own job, stage and SQL metrics, and an in-memory
span recorder. Nothing here imports the engine package.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

CORES = 4
_PAGE = os.sysconf("SC_PAGE_SIZE")


def build_session(work: str):
    """local[4] session with engine defaults: only I/O locations, the
    driver heap, the UTC session zone and quiet logs are set. Every
    file Spark or the JVM writes goes under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit; pyspark itself only lets the JVM notice the
    closed pipe after the driver exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- Python worker processes (/proc) ----------------------------------


def _proc_table() -> dict[int, tuple[int, bytes]]:
    """pid -> (ppid, cmdline) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        out[int(name)] = (ppid, cmd)
    return out


def python_workers(root: int) -> list[int]:
    """PIDs of the Python worker processes under this driver: processes
    running the pyspark daemon or worker module whose parent runs it too
    (workers forked by the daemon; the daemon, a child of the JVM, is
    not a worker). Matching the module name, not "pyspark", leaves out
    the JVM and its short-lived forks, whose command lines carry
    "pyspark-shell"."""
    table = _proc_table()
    below, frontier = set(), [root]
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        p = frontier.pop()
        for c in children.get(p, ()):
            if c not in below:
                below.add(c)
                frontier.append(c)
    pys = {p for p in below
           if b"pyspark.daemon" in table[p][1]
           or b"pyspark.worker" in table[p][1]}
    return sorted(p for p in pys if table[p][0] in pys)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class WorkerSampler:
    """Background sampler of the summed RSS of the Python workers and
    of the distinct worker PIDs seen, every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_rss = 0
        self.window_peak = 0
        self.window_pids: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._root = os.getpid()

    def _run(self):
        while not self._stop.wait(self.interval):
            pids = python_workers(self._root)
            rss = sum(_rss_bytes(p) for p in pids)
            with self._lock:
                self.peak_rss = max(self.peak_rss, rss)
                self.window_peak = max(self.window_peak, rss)
                self.window_pids.update(pids)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset_peak(self):
        with self._lock:
            self.peak_rss = 0

    def open_window(self):
        """Start counting worker PIDs and the RSS peak afresh."""
        pids = python_workers(self._root)
        with self._lock:
            self.window_pids = set(pids)
            self.window_peak = sum(_rss_bytes(p) for p in pids)

    def close_window(self) -> tuple[int, int]:
        """(distinct worker PIDs, peak summed RSS) since open_window."""
        with self._lock:
            return len(self.window_pids), self.window_peak


# --- Spark's own job, stage and SQL metrics ---------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def _total_bytes(text: str) -> int:
    """Total of a size SQL metric: either ``12.3 MiB`` (one task) or
    ``total (min, med, max (stageId: taskId))\\n12.3 MiB (...)``."""
    m = _SIZE_RE.search(text.split("\n")[-1])
    return int(float(m.group(1)) * _SIZE[m.group(2)]) if m else 0


class SparkProbe:
    """Per-operation Spark counters, read from Spark's status stores
    after the operation: jobs in the operation's job group, and for
    the SQL executions it started, the bridge bytes and task counts of
    the MapInArrow nodes running a given Python function, and the
    exchanges' shuffle bytes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._group = None
        self._mark = -1

    def _executions(self):
        seq = self.sql_store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def begin(self, group: str):
        self._group = group
        ids = [e.executionId() for e in self._executions()]
        self._mark = max(ids) if ids else -1
        self.sc.setJobGroup(group, group)

    def end(self, kernel: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jobs = self.sc.statusTracker().getJobIdsForGroup(self._group)
        out = {"jobs": len(jobs), "arrow_tasks": 0, "bridge_in": 0,
               "bridge_out": 0, "shuffle_write": 0}
        for e in self._executions():
            eid = e.executionId()
            if eid <= self._mark:
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                metrics = node.metrics()
                texts = {}
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        texts[m.name()] = v.get()
                if name == "MapInArrow" and kernel in node.desc() \
                        and texts:
                    out["bridge_in"] += _total_bytes(
                        texts.get("data sent to Python workers", ""))
                    out["bridge_out"] += _total_bytes(
                        texts.get("data returned from Python workers", ""))
                    out["arrow_tasks"] += self._node_tasks(texts)
                elif "Exchange" in name and name != "BroadcastExchange":
                    out["shuffle_write"] += _total_bytes(
                        texts.get("shuffle bytes written", ""))
        return out

    def _node_tasks(self, texts: dict) -> int:
        """Tasks of the stage that ran a node. Spark names that stage
        in a multi-task metric's max annotation; a metric without the
        annotation was reported by exactly one task."""
        for t in texts.values():
            m = _STAGE_RE.search(t)
            if m:
                info = self.sc.statusTracker().getStageInfo(int(m.group(1)))
                if info is not None:
                    return info.numTasks
        return 1


# --- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]
