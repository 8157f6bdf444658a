"""Tracing helper for the benchmark: spans around public calls, each
tagged with its own Spark job group, plus /proc sampling.

A span records name, start, end, parent and pass id. On exit it reads,
for the jobs of its group only:

- stage metrics from ``statusTracker().getJobIdsForGroup`` and the
  status store's ``lastStageAttempt`` (populated with the UI off);
- the number of source scans (``BatchScan`` nodes) in the final plans
  of the SQL executions those jobs belong to, and the rows those scans
  handed to Spark;
- Python-worker CPU time from ``/proc`` (delta over the span).

Spans stay in memory; :meth:`Tracer.write_jsonl` writes them out once.
Self time is a span's duration minus its direct children's.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

STAGE_FIELDS = ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "source_scans", "scan_rows")


# ---------------------------------------------------------------------------
# /proc: the driver's process tree (this process, the JVM, Python workers)
# ---------------------------------------------------------------------------

def _stat(pid: int):
    """(ppid, cpu_s incl. reaped children, rss_bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14) ... rss(21)
    cpu = sum(int(rest[i]) for i in (11, 12, 13, 14)) / _CLK
    return int(rest[1]), cpu, int(rest[21]) * _PAGE, comm


def process_tree() -> "dict[int, tuple]":
    """pid -> (ppid, cpu_s, rss_bytes, comm) for this process and all its
    descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep, frontier = {}, [os.getpid()]
    children: "dict[int, list[int]]" = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in keep:
            keep[pid] = stats[pid]
            frontier.extend(children.get(pid, ()))
    return keep


def tree_rss_bytes() -> int:
    return sum(st[2] for st in process_tree().values())


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    reaped ones included."""
    return sum(st[1] for st in process_tree().values())


def pyworker_cpu_s() -> float:
    """CPU seconds of the Python processes below the JVM: Spark's worker
    daemon, its forked workers (reaped ones count through the daemon's
    cutime) and the data-source planner workers."""
    me = os.getpid()
    return sum(st[1] for pid, st in process_tree().items()
               if pid != me and st[3].startswith("python"))


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak()``
    returns the maximum since the last ``reset()``. A disabled sampler
    starts no thread and reads 0."""

    def __init__(self, enabled: bool, interval_s: float = 0.1):
        self.enabled = enabled
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)

    def reset(self) -> None:
        if self.enabled:
            with self._lock:
                self._peak = tree_rss_bytes()

    def peak(self) -> int:
        if not self.enabled:
            return 0
        with self._lock:
            return max(self._peak, tree_rss_bytes())


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def wait_for_listeners(spark, timeout_ms: int = 10_000) -> None:
    """Drain the listener bus so the status stores hold every event of
    the jobs that have returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def job_metrics(spark, job_ids) -> dict:
    """Summed stage metrics (last attempt of every stage) of ``job_ids``,
    plus the source scans of the SQL executions that ran them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(job_ids)
    seen = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:   # NoSuchElementException: the stage
                continue            # was skipped, its output reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
    out["source_scans"], out["scan_rows"] = source_scans(
        spark, set(job_ids))
    return out


def source_scans(spark, job_ids: "set[int]") -> "tuple[int, int]":
    """(``BatchScan`` nodes, their summed ``numOutputRows``) in the
    current (post-AQE) plan graphs of the SQL executions that own any of
    ``job_ids``. A reused exchange shows as one ``ReusedExchange`` node,
    not as a second scan."""
    if not job_ids:
        return 0, 0
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    scans = rows = 0
    for i in range(execs.size()):
        ex = execs.apply(i)
        jobs = ex.jobs().keySet()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        nodes = store.planGraph(ex.executionId()).allNodes()
        row_ids = []   # accumulators of the scans' numOutputRows
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node.name().startswith("BatchScan"):
                scans += 1
                metrics = node.metrics()
                row_ids += [metrics.apply(j).accumulatorId()
                            for j in range(metrics.size())
                            if metrics.apply(j).name()
                            == "number of output rows"]
        if row_ids:
            values, it = {}, store.executionMetrics(
                ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            rows += sum(int(re.sub(r"\D", "", values[a]))
                        for a in row_ids if a in values)
    return scans, rows


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around public calls. A disabled tracer yields ``None`` and
    touches neither Spark nor /proc, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        #: finished spans: name, start, end, parent, pass_id, span_id
        #: and the metrics of their own job group
        self.spans: "list[dict]" = []
        self.pass_id = 0
        self._ids = itertools.count(1)
        self._stack: "list[dict]" = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{uuid.uuid4().hex}"   # unique per span
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sp = dict(name=name, span_id=sid, pass_id=self.pass_id,
                  parent=parent["span_id"] if parent else None)
        self._stack.append(sp)
        sc.setJobGroup(group, name)
        py0 = pyworker_cpu_s()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            # recorded exclusive of child spans, like the job metrics
            sp["_py_incl"] = pyworker_cpu_s() - py0
            sp["pyworker_cpu_s"] = sp["_py_incl"] - sum(
                c["_py_incl"] for c in self.spans
                if c["parent"] == sid)
            self._stack.pop()
            if prev_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev_group, prev_desc or "")
            wait_for_listeners(self.spark)
            sp.update(job_metrics(
                self.spark, list(sc.statusTracker().getJobIdsForGroup(group))))
            self.spans.append(sp)

    def total(self, sp: dict, field: str):
        """``field`` over ``sp`` and all its descendants (job metrics are
        recorded per group, i.e. per span, exclusive of children)."""
        return sp[field] + sum(self.total(c, field) for c in self.spans
                               if c["parent"] == sp["span_id"])

    def self_time(self, sp: dict) -> float:
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sp["span_id"])
        return (sp["end"] - sp["start"]) - kids

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = dict(sp, self_s=self.self_time(sp))
                f.write(json.dumps(rec, sort_keys=True) + "\n")
