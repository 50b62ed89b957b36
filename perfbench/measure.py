"""Measurement machinery of the benchmark: layer spans, a Spark event-log
parser that turns a traced run into per-layer rows, CPU time and a
peak-RSS sampler over the driver JVM and its Python workers, and the
tail-percentile rule.

Nothing here imports the package under test or PySpark at module level.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

# engine counters every layer reports, with their units
COUNTERS = {"jobs": "count", "stages": "count", "tasks": "count",
            "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
            "spill_mb": "MB"}

_MB = 1024.0 * 1024.0


def tail_percentile(samples):
    """The highest percentile with at least ten samples beyond it, by the
    nearest-rank rule: -> (percentile, value, n_beyond), or None when
    there are fewer than 20 samples (not even the median has ten
    samples above it)."""
    xs = sorted(samples)
    n = len(xs)
    for p in [99.9] + list(range(99, 49, -1)):
        rank = math.ceil(p * n / 100.0 - 1e-9)  # 99.9 * 10000 / 100 is not exact
        if n - rank >= 10:
            return p, xs[rank - 1], n - rank
    return None


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


class Spans:
    """Named wall-clock spans around calls into the program's layers. A
    span sets the Spark job group to its layer name, so the jobs it
    submits carry the layer in the UI and the event log. Spans may nest;
    a layer's self time excludes the spans nested inside it."""

    def __init__(self, sc):
        self._sc = sc
        self._depth = 0
        self.spans = []  # (layer, t0_ms, t1_ms, depth)
        self.rows = {}  # layer -> row counts of its materialized outputs
        self.frames = {}  # layer -> its materialized outputs
        self.observed = {}  # layer -> Observation metrics, one dict per call

    @contextmanager
    def layer(self, name: str):
        self._sc.setJobGroup(name, name)
        self._depth += 1
        t0 = time.time()
        try:
            yield
        finally:
            self._depth -= 1
            self.spans.append((name, t0 * 1000.0, time.time() * 1000.0,
                               self._depth))
            self._sc.setJobGroup("untraced", "untraced")

    def self_s(self, layer=None, exclude=()) -> float:
        """Self time of one layer (all layers but ``exclude`` when None),
        in seconds."""
        total = 0.0
        for name, t0, t1, depth in self.spans:
            if (layer is None and name in exclude) or (
                    layer is not None and name != layer):
                continue
            inner = sum(c1 - c0 for _, c0, c1, d in self.spans
                        if d == depth + 1 and t0 <= c0 and c1 <= t1)
            total += (t1 - t0) - inner
        return total / 1000.0

    def layer_of(self, t_ms: float):
        """The innermost span a job submitted at ``t_ms`` belongs to, or
        None for work outside every span."""
        best = None
        for name, t0, t1, depth in self.spans:
            if t0 <= t_ms <= t1 and (best is None or depth > best[1]):
                best = (name, depth)
        return None if best is None else best[0]


def read_event_log(root: str):
    """Yield every event (a dict) from the uncompressed event logs under
    ``root``: both the rolling layout (eventlog_v2_*/events_*) and the
    single-file one. Compression must be off (``zstandard`` is absent)."""
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.startswith("appstatus_") or f.startswith("."):
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


class EventLog:
    """Jobs, tasks and SQL plan metrics of one application, keyed so they
    can be attributed to layers by job submission time."""

    def __init__(self, events):
        self.jobs = {}  # job id -> dict(t=submission ms, stages=[ids])
        self.stage_job = {}
        self.completed_stages = set()
        self.stage_names = {}
        self.tasks = []  # (stage id, duration_ms, metrics, accumulables)
        self.accum_node = {}  # accumulator id -> (node name, simple string, metric)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"t": e["Submission Time"],
                                          "stages": e["Stage IDs"]}
                for sid in e["Stage IDs"]:
                    self.stage_job.setdefault(sid, e["Job ID"])
                for info in e.get("Stage Infos", []):
                    self.stage_names[info["Stage ID"]] = info.get("Stage Name", "")
            elif kind == "SparkListenerStageCompleted":
                self.completed_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                self.tasks.append((
                    e["Stage ID"],
                    info["Finish Time"] - info["Launch Time"],
                    e.get("Task Metrics") or {},
                    info.get("Accumulables") or [],
                ))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                self._index_plan(e["sparkPlanInfo"])

    def _index_plan(self, node):
        for m in node.get("metrics", []):
            self.accum_node[m["accumulatorId"]] = (
                node["nodeName"], node.get("simpleString", ""), m["name"]
            )
        for child in node.get("children", []):
            self._index_plan(child)

    def profile(self, spans: Spans) -> dict:
        """layer -> engine counters, task durations and per-(node, metric)
        SQL metric sums of the jobs submitted inside the layer's spans."""
        job_layer = {j: spans.layer_of(v["t"]) for j, v in self.jobs.items()}
        out = {}

        def row(layer):
            return out.setdefault(layer, {
                "jobs": 0, "stages": set(), "tasks": 0, "executor_cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "task_ms": [], "sql": {}, "stage_names": [],
            })

        for j, layer in job_layer.items():
            if layer is not None:
                r = row(layer)
                r["jobs"] += 1
                r["stage_names"] += [
                    self.stage_names.get(s, "") for s in self.jobs[j]["stages"]
                    if s in self.completed_stages
                ]
        for sid, dur, m, accums in self.tasks:
            layer = job_layer.get(self.stage_job.get(sid))
            if layer is None:
                continue
            r = row(layer)
            r["stages"].add(sid)
            r["tasks"] += 1
            r["task_ms"].append(dur)
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
            )
            r["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            for a in accums:
                node = self.accum_node.get(a.get("ID"))
                try:  # SQL metric updates are logged as strings
                    upd = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                if node is not None:
                    r["sql"][node] = r["sql"].get(node, 0.0) + upd
        for r in out.values():
            r["stages"] = len(r["stages"])
        return out


def sql_sum(layer_row, metric: str, node_prefix: str = "", contains: str = "",
            excludes: str = "") -> float:
    """Sum of one SQL metric over the layer's plan nodes whose name starts
    with ``node_prefix`` and whose description contains ``contains`` (and
    not ``excludes``)."""
    total = 0.0
    for (node, desc, name), v in (layer_row or {}).get("sql", {}).items():
        if (name == metric and node.startswith(node_prefix)
                and contains in desc and not (excludes and excludes in desc)):
            total += v
    return total


def counters(layer_row) -> dict:
    r = layer_row or {}
    return {k: float(r.get(k, 0)) for k in COUNTERS}


def host_steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine's CPUs
    since boot (the ``steal`` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def is_jit_thread(comm: str) -> bool:
    """Whether a JVM thread's kernel name (``comm``, cut to 15 bytes:
    ``C2 CompilerThre``) is one of HotSpot's JIT compiler threads."""
    return "CompilerThre" in comm


def _read_stat(path: str):
    """(comm, fields after comm) of a /proc stat file, or None when the
    process or thread is gone. The name may hold spaces and ')'; the
    fields follow the last ')'."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


class ProcessTree:
    """A process and its descendants (the driver JVM and the Python
    workers it forks): their CPU time on demand, and the peak of their
    summed resident set from a background sampler."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            pass
        return 0

    def _tree(self):
        """pids of the root process and all its descendants."""
        children = {}
        for d in os.listdir("/proc"):
            stat = _read_stat(f"/proc/{d}/stat") if d.isdigit() else None
            if stat is not None:
                children.setdefault(int(stat[1][1]), []).append(int(d))  # ppid
        pids, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo += children.get(pid, [])
        return pids

    def tree_mb(self) -> float:
        return sum(self._rss_kb(pid) for pid in self._tree()) / 1024.0

    def tree_cpu_s(self) -> float:
        """CPU seconds used so far by the tree, reaped children included."""
        total = 0
        for pid in self._tree():
            stat = _read_stat(f"/proc/{pid}/stat")
            if stat is not None:
                # utime, stime, cutime, cstime (fields 14-17 of proc(5))
                total += sum(int(x) for x in stat[1][11:15])
        return total / os.sysconf("SC_CLK_TCK")

    def jit_cpu_s(self) -> float:
        """CPU seconds used so far by the root process's JIT compiler
        threads. Exact only while those threads live as long as the JVM
        (``-XX:-UseDynamicNumberOfCompilerThreads``): an exited thread's
        time stays in the process total but leaves this sum."""
        total = 0
        task_dir = f"/proc/{self.root_pid}/task"
        try:
            tids = os.listdir(task_dir)
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            return 0.0
        for tid in tids:
            stat = _read_stat(os.path.join(task_dir, tid, "stat"))
            if stat is not None and is_jit_thread(stat[0]):
                total += int(stat[1][11]) + int(stat[1][12])  # utime, stime
        return total / os.sysconf("SC_CLK_TCK")

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree_mb())
            self._stop.wait(self.interval_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        """Stop sampling (idempotent) and take a last sample."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.peak_mb = max(self.peak_mb, self.tree_mb())
