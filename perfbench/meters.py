"""Outside-in meters: everything here reads what Spark already exposes or
times calls into the engine's public functions. No engine code is changed.

- ``plan_metrics``   walks an executed plan (through AQE and every query
                      stage) and sums the SQL metrics each layer cares about;
- ``JobMeter``        counts jobs and tasks started under a job group;
- ``ProgressLog``     a ``StreamingQueryListener`` that keeps every event;
- ``CallLog``         wraps ``foreachBatch`` writers and times each call;
- ``Tracer``          in-memory spans, written as JSONL at exit;
- ``RssSampler``      peak resident memory (PSS) of this process tree;
- ``tree_cpu_s``      CPU seconds used by this process tree so far.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# --------------------------------------------------------------------------
# plan metrics
# --------------------------------------------------------------------------

def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(plan):
    """Every physical node under ``plan``: descends through
    ``AdaptiveSparkPlanExec.executedPlan()``, every ``*QueryStageExec.plan()``
    (Spark 4's ``ResultQueryStageExec`` included), reused exchanges and
    scalar subqueries. Yields ``(class_name, node)``."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            # the exchange ran once, under its first reference
            continue
        yield cls, node
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


def node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


@dataclass
class PlanTotals:
    scan_files: int = 0
    scan_bytes: int = 0
    exchanges: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0

    def add(self, other: "PlanTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def plan_metrics(plan) -> PlanTotals:
    """Sum the layer counters over an executed physical plan (JVM object)."""
    t = PlanTotals()
    for cls, node in plan_nodes(plan):
        m = node_metrics(node)
        if cls.endswith("ScanExec") and "numFiles" in m:
            t.scan_files += m.get("numFiles", 0)
            t.scan_bytes += m.get("filesSize", 0)
        if cls == "ShuffleExchangeExec":
            t.exchanges += 1
            t.shuffle_bytes += m.get("shuffleBytesWritten", m.get("dataSize", 0))
        t.spill_bytes += m.get("spillSize", 0)
        # every Python-evaluating node (Arrow UDFs, mapInPandas, ...) has these
        t.python_bytes += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
    return t


# --------------------------------------------------------------------------
# job counts
# --------------------------------------------------------------------------


class JobMeter:
    """Tags work with a job group and reads job/task counts back from the
    status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        g = f"{label}#{self._n}"
        self.sc.setJobGroup(g, label, interruptOnCancel=False)
        return g

    def counts(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) started under ``group``."""
        jobs = list(self.tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event as a dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def by_query(self) -> dict[str, list[dict]]:
        with self._lock:
            evs = list(self.events)
        out: dict[str, list[dict]] = defaultdict(list)
        for e in evs:
            out[e["name"]].append(e)
        for v in out.values():
            v.sort(key=lambda e: e["batchId"])
        return out

    def log_offset(self, name: str) -> int:
        """The highest file-source ``logOffset`` query ``name`` has committed
        (-1 before its first file): with ``maxFilesPerTrigger`` 1 it is the
        index of the last file the query has read."""
        with self._lock:
            return max((e["sources"][0]["endOffset"]["logOffset"] for e in self.events
                        if e["name"] == name and e["sources"] and e["sources"][0].get("endOffset")),
                       default=-1)


@dataclass
class Call:
    name: str
    batch_id: int
    start: float
    end: float
    jobs: int = 0


class CallLog:
    """Times every call of a wrapped ``foreachBatch`` writer (wall clock,
    ``time.time`` so it lines up with due times and progress events)."""

    def __init__(self) -> None:
        self.calls: list[Call] = []
        self._lock = threading.Lock()

    def wrap(self, name: str, fn, count_jobs=None):
        """``count_jobs()``, when given, returns the jobs started so far in
        the calling thread's job group; the call records the difference."""

        def timed(batch, batch_id):
            j0 = count_jobs() if count_jobs else 0
            t0 = time.time()
            try:
                fn(batch, batch_id)
            finally:
                c = Call(name, batch_id, t0, time.time())
                c.jobs = count_jobs() - j0 if count_jobs else 0
                with self._lock:
                    self.calls.append(c)

        return timed



# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    trace: str
    span_id: int
    parent: int | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; ``dump`` writes them as JSONL. A disabled tracer
    records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next = 0
        self._lock = threading.Lock()
        self.cost_s = 0.0  # time the benchmark spent recording and reading meters

    def add(self, name: str, trace: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self._next += 1
            self.spans.append(Span(name, trace, self._next, parent, start, end, attrs))
            return self._next

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union([(max(c.start, s.start), min(c.end, s.end))
                              for c in kids.get(s.span_id, ())])
            out[s.name] += max(0.0, (s.end - s.start) - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between the
    processes mapping them (forked workers and a JVM's short-lived spawn
    children would otherwise count twice)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state is [0])."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat_fields(int(d))
            if fields:
                children[int(fields[1])].append(int(d))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_kb(root: int) -> int:
    return sum(_pss_kb(pid) for pid in _tree(root))


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of this process tree: every live process
    (the JVM's task threads included) plus the reaped children each has
    waited for. Time a hypervisor steals from the VM is not in it, so the
    difference over a window moves less with host load than wall time."""
    total = 0
    for pid in _tree(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants (JVM, Python workers) on a background thread; ``peak_mb`` is
    the highest total seen."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _tree_kb(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
