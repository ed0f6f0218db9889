"""Measurement plumbing: spans, Spark counters, process RSS, box checks.

Spans are kept in memory and written as JSON when the run ends. Spark
counters come from what Spark already records: stage and job data from the
status store (read through the 5-argument ``stageList`` Java overload,
because Scala default arguments do not cross py4j; works with
``spark.ui.enabled=false``) and SQL metrics from the executed plan of the
DataFrame that ran.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory spans: name, trace id, span id, parent, start, end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sp = {
            "name": name,
            "trace_id": self.trace_id,
            "span_id": len(self.spans) + 1,
            "parent_id": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp["span_id"])
        try:
            yield sp["attrs"]
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus time covered by children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent_id"] is not None:
                child[s["parent_id"]] = child.get(s["parent_id"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["span_id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_time_s": self.self_times()}, f, indent=1)


class Probe:
    """Wraps calls into engine layers. Untraced: wall time only. Traced: a
    span, a job-description tag, and the Spark counters of that tag."""

    def __init__(self, tracer, counters, workload: str):
        self.tracer, self.counters, self.workload = tracer, counters, workload

    @contextmanager
    def layer(self, name: str):
        if not self.tracer.enabled:
            attrs = {}
            t0 = time.perf_counter()
            yield attrs
            attrs["wall_s"] = time.perf_counter() - t0
            return
        tag = (f"perfbench:{self.workload}:trace{self.tracer.trace_id}:"
               f"span{len(self.tracer.spans) + 1}:{name}")
        sc = self.counters.sc
        prev = sc.getLocalProperty("spark.job.description")
        try:
            with self.tracer.span(name) as attrs:
                sc.setJobDescription(tag)
                t0 = time.perf_counter()
                try:
                    yield attrs
                finally:
                    attrs["wall_s"] = time.perf_counter() - t0
                    sc.setJobDescription(prev)
        finally:  # counters are read outside the span, also when the call raised
            attrs["spark"] = self.counters.read(tag)

    def python_metrics(self, df) -> dict:
        return python_metrics(df) if self.tracer.enabled else {}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------
# Spark status store + SQL metrics
# ---------------------------------------------------------------------------
class SparkCounters:
    """Reads stage/job counters for one job description tag."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def _seq(self, seq):
        return [seq.apply(i) for i in range(seq.size())]

    def stages(self, tag: str) -> list:
        al = self.jvm.java.util.ArrayList
        seq = self.store.stageList(
            al(), False, False, self.sc._gateway.new_array(self.jvm.double, 0), al()
        )
        out = []
        for s in self._seq(seq):
            d = s.description()
            if d.isDefined() and d.get() == tag:
                out.append(s)
        return out

    def jobs(self, tag: str) -> int:
        seq = self.store.jobsList(self.jvm.java.util.ArrayList())
        n = 0
        for j in self._seq(seq):
            d = j.description()
            if d.isDefined() and d.get() == tag:
                n += 1
        return n

    def read(self, tag: str) -> dict:
        """Summed stage counters of every stage run under ``tag``."""
        st = self.stages(tag)
        c = {
            "executor_run_s": sum(s.executorRunTime() for s in st) / 1e3,
            "executor_cpu_s": sum(s.executorCpuTime() for s in st) / 1e9,
            "jvm_gc_s": sum(s.jvmGcTime() for s in st) / 1e3,
            "input_mb": sum(s.inputBytes() for s in st) / MB,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in st) / MB,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in st) / MB,
            "shuffle_write_records": sum(s.shuffleWriteRecords() for s in st),
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in st) / MB,
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in st),
            "failed_tasks": sum(s.numFailedTasks() for s in st),
            "jobs": self.jobs(tag),
            "slowest_task_ratio": 1.0,
            "longest_stage_s": 0.0,
        }
        if st:
            longest = max(st, key=lambda s: s.executorRunTime())
            c["longest_stage_s"] = longest.executorRunTime() / 1e3
            tasks = self._seq(self.store.taskList(longest.stageId(), longest.attemptId(), 100000))
            durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
            if durs and statistics.median(durs) > 0:
                c["slowest_task_ratio"] = max(durs) / statistics.median(durs)
        return c


def python_metrics(df) -> dict:
    """Summed ``python*`` SQL metrics of the MapInArrow nodes in the
    executed plan of ``df`` (call after ``df`` itself was collected)."""
    tot = {"pythonTotalTime": 0, "pythonBootTime": 0, "pythonDataSent": 0,
           "pythonDataReceived": 0, "pythonNumRowsReceived": 0}

    def walk(p):
        if p.nodeName() == "MapInArrow":
            it = p.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in tot:
                    tot[kv._1()] += kv._2().value()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [p.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [p.plan()]
        else:
            ch = p.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return {
        "python.total_s": tot["pythonTotalTime"] / 1e3,
        "python.boot_s": tot["pythonBootTime"] / 1e3,
        "python.data_sent_mb": tot["pythonDataSent"] / MB,
        "python.data_received_mb": tot["pythonDataReceived"] / MB,
        "python.rows_received": tot["pythonNumRowsReceived"],
    }


# ---------------------------------------------------------------------------
# process tree RSS + box hygiene
# ---------------------------------------------------------------------------
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            fields = stat[stat.rfind(")") + 2:].split()
            out[int(d)] = (int(fields[1]), int(fields[21]) * page)
        except (OSError, IndexError, ValueError):
            continue
    return out


def tree_rss(root: int, top: int) -> tuple[int, int]:
    """(RSS of ``root``, summed RSS of its ``top`` largest descendants) in
    bytes. Spark keeps idle Python workers alive for up to a minute, so
    how many linger depends on timing; one worker per core is the set
    that can be busy at once."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    sizes, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        sizes.append(table[pid][1])
        todo.extend(kids.get(pid, []))
    return table.get(root, (0, 0))[1], sum(sorted(sizes)[-top:])


class RssSampler:
    """Peak RSS of the JVM, and separately of its ``top`` largest Python
    workers, sampled every ``period`` s while ``active`` is set."""

    def __init__(self, root_pid: int, top: int, period: float = 0.1):
        self.root, self.top = root_pid, top
        self.period = period
        self.peak_jvm = self.peak_workers = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(self.period):
            if self.active.is_set():
                jvm, workers = tree_rss(self.root, self.top)
                self.peak_jvm = max(self.peak_jvm, jvm)
                self.peak_workers = max(self.peak_workers, workers)

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


def other_spark_jvms(own_root: int) -> list[int]:
    """Java processes running Spark that are not descendants of this run."""
    table = _proc_table()
    mine = set()
    todo = [own_root]
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        p = todo.pop()
        mine.add(p)
        todo.extend(kids.get(p, []))
    found = []
    for pid in table:
        if pid in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            found.append(pid)
    return found
