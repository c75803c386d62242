"""Measurement from outside the program: process-tree CPU and memory, Spark's
status store read per job group, and in-memory spans for the traced run."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# checkout root, stripped from stage call sites so records hold relative paths
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__))) + os.sep


# -- process tree ------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, /proc stat fields) of ``root`` and every live descendant."""
    stats, children = {}, defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children[pid])
    return out


def descendants(root: int) -> list[int]:
    """Pids of the live processes below ``root``."""
    return [pid for pid, _ in _tree(root)[1:]]


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree under ``root``: the
    driver, the JVM and the Python workers, including children already
    reaped by a process in the tree."""
    total = 0
    for _, st in _tree(root or os.getpid()):
        # utime stime cutime cstime are fields 14-17 (1-based) of stat
        total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _CLK


def tree_rss_mb(root: int | None = None) -> float:
    return sum(int(st[21]) for _, st in _tree(root or os.getpid())) * _PAGE / 2**20


class PeakRss:
    """Samples the process tree's resident memory in a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self._interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# -- Spark status store ------------------------------------------------------

PACKAGE = "electricity_forecast_pipeline_airflow_k8s_spark"


def callsite_module(stage_name: str) -> str:
    """Package module named by a stage's call site ("collect at
    .../operators/validation.py:104" -> "operators.validation"), or "other"
    when the call site names no file of the package."""
    site = stage_name.rsplit(" at ", 1)[-1].split(":", 1)[0]
    marker = PACKAGE + "/"
    if marker not in site or not site.endswith(".py"):
        return "other"
    return site.split(marker, 1)[1][: -len(".py")].replace("/", ".")


@dataclass
class OpCounters:
    """Spark work of one op: every job in its job group and every stage
    those jobs ran (stages skipped because their shuffle output was reused
    are not counted)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    storage_mb: float = 0.0
    run_s_by_module: dict[str, float] = field(default_factory=dict)
    run_s_by_stage: dict[str, float] = field(default_factory=dict)  # by stage name


class SparkCounters:
    """Reads Spark's status store for one job group at a time. Spark keeps
    only the last 1,000 jobs and stages by default, so each op is read right
    after it ends rather than at the end of the run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def job_count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, group: str) -> OpCounters:
        c = OpCounters()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            c.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        by_mod: dict[str, float] = defaultdict(float)
        by_stage: dict[str, float] = defaultdict(float)
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- stage never attempted (Py4J error)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += st.numCompleteTasks() + st.numFailedTasks()
            c.failed_tasks += st.numFailedTasks()
            run_s = st.executorRunTime() / 1e3
            c.executor_run_s += run_s
            c.executor_cpu_s += st.executorCpuTime() / 1e9
            c.gc_s += st.jvmGcTime() / 1e3
            c.shuffle_read_mb += st.shuffleReadBytes() / 2**20
            c.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
            c.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            by_mod[callsite_module(st.name())] += run_s
            by_stage[st.name().replace(_ROOT, "")] += run_s
        c.run_s_by_module = dict(by_mod)
        c.run_s_by_stage = dict(by_stage)
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        c.storage_mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return c


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    count: int | None = None  # rows the wrapped call produced, when counted
    jobs: int = 0  # Spark jobs started inside the span


class Tracer:
    """In-memory spans: name, start, end, parent and op id. Nothing is
    written until the run ends."""

    def __init__(self, job_count=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self.active = False  # wrapped calls pass straight through when off
        self.job_count = job_count or (lambda: 0)

    def open(self, name: str) -> int:
        jobs = self.job_count()  # read before the clock starts
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, time.perf_counter(), parent=parent, jobs=-jobs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.jobs += self.job_count()
        if self._stack and self._stack[-1] == idx:
            self._stack.pop()

    def sums(self, op: int, value) -> dict[str, float]:
        """Per span name, ``value(span)`` summed over the op's spans."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.op == op:
                out[s.name] += value(s)
        return dict(out)

    def self_times(self, op: int) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover,
        summed over the op's spans."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.op == op and s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.op == op:
                out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def wrap(tracer: Tracer, module, attr: str, name: str, materialize=None) -> None:
    """Replace ``module.attr`` with a version that records a span named
    ``name`` around each call. ``materialize(result)`` runs inside the span
    for functions that only build a lazy plan; when it returns an int, that
    is kept as the span's count."""
    fn = getattr(module, attr)

    def traced(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        idx = tracer.open(name)
        try:
            out = fn(*args, **kwargs)
            if materialize is not None:
                n = materialize(out)
                if isinstance(n, int):
                    tracer.spans[idx].count = n
            return out
        finally:
            tracer.close(idx)

    traced.__wrapped__ = fn
    setattr(module, attr, traced)
