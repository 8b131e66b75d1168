"""Measurement plumbing shared by the workloads: spans with Spark
counters for the traced run, the resident-memory sampler, the process
tree walk and small helpers.

Nothing here changes what the program does. Spans wrap the calls the
benchmark itself makes into the program's public functions; counters
are read from Spark's own status stores after a span ends, so the
physical plans of the measured jobs are the same with tracing on or off.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapGroupsInPandasWithState", "FlatMapCoGroupsInPandas",
                "PythonMapInArrow", "MapInArrow", "BatchEvalPython")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TOTAL_RE = re.compile(r"^\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)?")
RSS_INTERVAL_S = 0.2
LISTENER_DRAIN_MS = 10_000


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    """Bytes of the data files under a table directory (Spark's _SUCCESS
    markers and .crc checksums excluded)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
    return total


def _metric_value(raw: str) -> float:
    """A SQL metric's formatted value -> number. Sums and sizes print as
    'total (min, med, max ...)\\n12.3 KiB (...)'; plain counts as '123'."""
    text = raw.split("\n", 1)[1] if "\n" in raw else raw
    m = _TOTAL_RE.match(text.replace(",", ""))
    if not m:
        return 0.0
    return float(m.group(1)) * _SIZE_UNITS.get(m.group(2) or "B", 1)


class Tracer:
    """Spans around the benchmark's calls into the program.

    Each span records name, start, end, parent and run id. With tracing
    on, a span also tags its Spark jobs with `setJobGroup` and, when it
    ends, drains the listener bus and reads its counters: jobs, stages,
    tasks, executor run and CPU seconds, shuffle, spill and I/O bytes
    from the application status store, and rows and bytes crossing the
    Python boundary from the SQL status store. Spans stay in memory; the
    run writes them out with its details when it ends. With tracing off a
    span is a no-op.
    """

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._claimed_execs: set[int] = set()
        self._last_exec = -1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, **attrs}
        group = f"{self.run_id}:{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{self.run_id}:{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.drain_listeners()
            tracker = sc.statusTracker()
            groups = [group, *rec.pop("groups", [])]
            rec["counters"] = self.counters(
                sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)}))

    def adopt_group(self, group: str) -> None:
        """Count the jobs of another job group in the innermost open span:
        a streaming query runs its micro-batches under its own group."""
        if self.enabled and self._stack:
            self._stack[-1].setdefault("groups", []).append(group)

    def drain_listeners(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far. The status stores are filled from that bus asynchronously, so
        without this the last stage or SQL execution of a span may not be
        in them yet when its counters are read."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_DRAIN_MS)

    def counters(self, job_ids) -> dict:
        """Counters of the given Spark jobs and of the SQL executions
        that ran them."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
               "input_bytes": 0, "input_rows": 0, "output_bytes": 0, "python_rows": 0, "python_bytes": 0,
               "python_udf_rows": {}}
        jobs = set(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stages never ran: not in the store
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["input_rows"] += st.inputRecords()
                out["output_bytes"] += st.outputBytes()
        if jobs:
            self._python_counters(jobs, out)
        return out

    def _python_counters(self, jobs: set, out: dict) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        fetch = 32
        while True:  # newest executions until one at or before the last seen
            execs = sql.executionsList(max(0, count - fetch), min(fetch, count))
            first = execs.apply(0).executionId() if execs.size() else -1
            if first <= self._last_exec or fetch >= count:
                break
            fetch *= 2
        newest = self._last_exec
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            newest = max(newest, eid)
            if eid in self._claimed_execs:
                continue
            ejobs = set(_scala_iter(e.jobs().keys()))
            if not ejobs & jobs:
                continue
            self._claimed_execs.add(eid)
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() not in PYTHON_NODES:
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    acc = metric.accumulatorId()
                    if not values.contains(acc):
                        continue
                    v = _metric_value(values.apply(acc))
                    if metric.name() == "number of output rows":
                        out["python_rows"] += int(v)
                        desc = node.desc()
                        for udf in ("_reproject", "_clip"):
                            if f"{udf}(" in desc:
                                out["python_udf_rows"][udf] = (
                                    out["python_udf_rows"].get(udf, 0) + int(v))
                    elif metric.name() in ("data sent to Python workers",
                                           "data returned from Python workers"):
                        out["python_bytes"] += int(v)
        self._last_exec = newest

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part of it covered by children."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            for iv in _union([(c["start"], c["end"]) for c in children.get(s["id"], [])]):
                covered += min(iv[1], s["end"]) - max(iv[0], s["start"])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _union(intervals):
    merged = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its
    reaped children and every live descendant (the Spark JVM and its
    Python workers)."""
    total = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every CPU since boot: the share of
    time the hypervisor ran something else while this VM wanted a CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def jvm_gc_compile_ms(spark) -> tuple[int, int]:
    """Milliseconds the driver JVM has spent so far in garbage collection
    and in JIT compilation."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc, mf.getCompilationMXBean().getTotalCompilationTime()


def descendants() -> set[int]:
    """PIDs of every live descendant of this process."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {os.getpid()}


class RssSampler:
    """Peak resident memory (proportional set size) of this process and
    every descendant (the Spark JVM and its Python workers), sampled
    from /proc."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        total = 0
        # proportional set size: pages shared by forked Python workers are
        # split among them, not counted once per worker
        for pid in descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
