"""Timing, tracing and resource measurement around the engine's calls.

Nothing here runs inside the engine: spans are recorded around the calls
the benchmark makes, and Spark's own job/stage records are read from the
status store after each action (it works with the UI disabled).
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

# plan-graph cluster names that mean "this stage runs Python workers"
_PY_NODE = re.compile(r'label="[^"]*(Python|InArrow|InPandas)[^"]*"')


# ---- spans ----------------------------------------------------------------

class Tracer:
    """In-memory span recorder.  A span is (id, trace id, parent, kind,
    name, start, end, counts); times are epoch seconds so they line up with
    the millisecond timestamps of Spark's job and stage records."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._trace_id: Optional[str] = None

    @contextmanager
    def trace(self, trace_id: str):
        """Group every span opened inside under one job id."""
        prev, self._trace_id = self._trace_id, trace_id
        try:
            yield
        finally:
            self._trace_id = prev

    @contextmanager
    def span(self, kind: str, name: str, **counts):
        if not self.enabled:
            yield None
            return
        s = {"id": len(self.spans), "trace": self._trace_id,
             "parent": self._stack[-1] if self._stack else None,
             "kind": kind, "name": name, "start": time.time(),
             "end": None, "counts": dict(counts)}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    def add(self, kind: str, name: str, start: float, end: float,
            parent: Optional[int], **counts) -> dict:
        s = {"id": len(self.spans), "trace": self._trace_id,
             "parent": parent, "kind": kind, "name": name,
             "start": start, "end": end, "counts": dict(counts)}
        self.spans.append(s)
        return s

    def self_times(self) -> Dict[str, float]:
        """Σ self time per span kind: duration minus the part of it that
        child spans cover (children may overlap each other)."""
        kids: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered = 0.0
            cur = lo
            for a, b in sorted((max(c["start"], lo), min(c["end"], hi))
                               for c in kids.get(s["id"], [])):
                if b <= cur:
                    continue
                covered += b - max(a, cur)
                cur = b
            out[s["kind"]] = out.get(s["kind"], 0.0) \
                + max(0.0, (hi - lo) - covered)
        return out


# ---- Spark status store -----------------------------------------------------

def _ms(date_opt) -> Optional[float]:
    return date_opt.get().getTime() / 1000.0 if date_opt.isDefined() else None


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_QTY = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?")


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ('1.5 MiB', 'total (min, med, max ...)\\n
    12 ms (...)') as bytes / seconds / a count.  Size strings carry about
    three significant digits."""
    line = text.strip().split("\n")[-1]
    m = _QTY.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkProbe:
    """Reads per-job, per-stage and SQL metrics for one job group."""

    SQL_METRICS = {
        "data sent to Python workers": "arrow.bytes_to_python",
        "data returned from Python workers": "arrow.bytes_from_python",
    }

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._graph = self.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph

    def collect(self, group: str, tracer: Tracer,
                parent: Optional[int]) -> dict:
        """Stage metrics summed over the group's jobs; adds one span per
        Spark job and one per stage under ``parent``."""
        tot = dict(jobs=0, tasks=0, run_s=0.0, input_bytes=0, input_rows=0,
                   output_bytes=0, shuffle_write=0, fetch_wait_s=0.0,
                   spill=0, gc_s=0.0, python_wait_s=0.0, skew=1.0)
        longest = (-1.0, None)
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            jd = self.store.job(jid)
            tot["jobs"] += 1
            jspan = tracer.add("spark.job", f"job {jid}",
                               _ms(jd.submissionTime()) or 0.0,
                               _ms(jd.completionTime()) or 0.0, parent)
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue        # skipped: its shuffle output was reused
                run_s = st.executorRunTime() / 1000.0
                cpu_s = st.executorCpuTime() / 1e9
                tot["tasks"] += st.numTasks()
                tot["run_s"] += run_s
                tot["input_bytes"] += st.inputBytes()
                tot["input_rows"] += st.inputRecords()
                tot["output_bytes"] += st.outputBytes()
                tot["shuffle_write"] += st.shuffleWriteBytes()
                tot["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000.0
                tot["spill"] += st.memoryBytesSpilled() \
                    + st.diskBytesSpilled()
                tot["gc_s"] += st.jvmGcTime() / 1000.0
                if self._has_python(sid):
                    tot["python_wait_s"] += max(0.0, run_s - cpu_s)
                if run_s > longest[0]:
                    longest = (run_s, (sid, st.attemptId()))
                tracer.add("spark.stage", f"stage {sid}",
                           _ms(st.submissionTime()) or jspan["start"],
                           _ms(st.completionTime()) or jspan["end"],
                           jspan["id"], tasks=st.numTasks(),
                           run_s=run_s, cpu_s=cpu_s,
                           input_bytes=st.inputBytes(),
                           shuffle_write=st.shuffleWriteBytes(),
                           shuffle_read=st.shuffleReadBytes(),
                           spill=st.memoryBytesSpilled()
                           + st.diskBytesSpilled())
        tot["longest_s"] = longest[0]
        if longest[1] is not None:
            tot["skew"] = self._skew(*longest[1])
        tot.update(self._sql(set(job_ids)))
        return tot

    def _has_python(self, sid: int) -> bool:
        from py4j.protocol import Py4JJavaError
        try:
            dot = self._graph.makeDotFile(
                self.store.operationGraphForStage(sid))
        except Py4JJavaError:   # graph pruned from the store: count as JVM
            return False
        return bool(_PY_NODE.search(dot))

    def _skew(self, sid: int, attempt: int) -> float:
        """max ÷ median task run time of one stage."""
        times = []
        it = self.store.taskList(sid, attempt, 100000).iterator()
        while it.hasNext():
            tm = it.next().taskMetrics()
            if tm.isDefined():
                times.append(tm.get().executorRunTime())
        if not times:
            return 1.0
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0

    def _sql(self, job_ids: set) -> dict:
        """Python-boundary bytes and exchange count from the SQL executions
        that ran any of ``job_ids``."""
        out = {v: 0.0 for v in self.SQL_METRICS.values()}
        out["exchanges"] = 0
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keySet().iterator()
            ran = set()
            while jobs.hasNext():
                ran.add(int(jobs.next()))
            if not ran & job_ids:
                continue
            out["exchanges"] += count_exchanges(ex.physicalPlanDescription())
            values = self.sql_store.executionMetrics(ex.executionId())
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                key = self.SQL_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
        return out


def count_exchanges(plan: str) -> int:
    """Exchange nodes in a physical plan dump; with AQE only the final
    plan counts."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
    return len(re.findall(r"^[\s:+\-]*Exchange\b", plan, re.M))


# ---- memory -----------------------------------------------------------------

def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised comm
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the driver, the
    JVM it launched and the Python workers the JVM forked)."""
    kids = _children()
    todo, total = [root], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory while a window is
    active; ``peaks`` holds the peak of each window."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peaks: List[int] = []
        self._peak = 0
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self):
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    @contextmanager
    def active(self):
        with self._lock:
            self._peak = 0
        self._sample()
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()
            with self._lock:
                self.peaks.append(self._peak)

    def _loop(self):
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self._sample()
                self._stop.wait(self.interval)


# ---- small helpers --------------------------------------------------------

def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / hz


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
