"""Measurement helpers: layer spans with Spark stage attribution, plan-shape
counts, process-tree peak RSS and host calibration.

Stage data is read per span: the span sets its own job group, and on exit
reads ``statusTracker().getJobIdsForGroup`` → ``getJobInfo(j).stageIds`` →
``statusStore().lastStageAttempt(sid)``, which works with the UI disabled.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

STAGE_KEYS = (
    "jobs", "stages", "tasks", "scan_tasks", "run_s", "cpu_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


def stage_totals(spark, group: str) -> dict:
    """Totals over the non-skipped stages of every job in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is fed by an asynchronous listener: drain it first
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    out["jobs"] = float(len(jobs))
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        tasks = sd.numCompleteTasks()
        out["stages"] += 1
        out["tasks"] += tasks
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.inputBytes() > 0:
            out["scan_tasks"] += tasks
    return out


class Span:
    __slots__ = ("name", "group", "parent", "start", "end", "stages")

    def __init__(self, name, group, parent, start):
        self.name, self.group, self.parent = name, group, parent
        self.start, self.end, self.stages = start, start, {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "name": self.name,
            "group": self.group,
            "parent": self.parent,
            "start_s": self.start - t0,
            "end_s": self.end - t0,
            "stages": self.stages,
        }


class Tracer:
    """Records one span per layer call, each under its own Spark job group.
    Spans stay in memory; ``dump`` returns them for the trace file."""

    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self) -> list[dict]:
        return [s.as_dict(self.t0) for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1].group if t._stack else None
        group = f"perfbench-{len(t.spans)}-{self.name}"
        self.span = Span(self.name, group, parent, time.perf_counter())
        t.spans.append(self.span)
        t._stack.append(self.span)
        t.spark.sparkContext.setJobGroup(group, self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        s = self.span
        s.end = time.perf_counter()
        t._stack.pop()
        sc = t.spark.sparkContext
        if t._stack:
            sc.setJobGroup(t._stack[-1].group, t._stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        s.stages = stage_totals(t.spark, s.group)


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------

PLAN_NODES = {
    "plan.exchanges": re.compile(r"^(\w*Exchange)\b"),
    "plan.scans": re.compile(r"^FileScan\b"),
    "plan.pins": re.compile(r"^Scan ExistingRDD\b"),
    "plan.python_nodes": re.compile(
        r"^(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b"
    ),
    "plan.windows": re.compile(r"^Window\b"),
}
_TREE_PREFIX = re.compile(r"^[\s:+\-|*()\d]*")


def plan_shape(df) -> dict:
    """Node counts of the physical plan Spark would execute for ``df``
    (reusing exchanges counts them once; nothing is executed)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    out = dict.fromkeys(PLAN_NODES, 0.0)
    for line in text.splitlines():
        node = _TREE_PREFIX.sub("", line)
        for key, pat in PLAN_NODES.items():
            if pat.match(node):
                out[key] += 1
    return out


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:
        return None


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_bytes(pid: int) -> dict[str, int]:
    """RSS of ``pid`` and its descendants, summed per command name. A child
    whose memory map reads exactly like its parent's is a vfork'd helper
    (the JVM spawns them for file-system calls) sharing the parent's pages:
    counted once."""
    kids = _children()
    out: dict[str, int] = {}
    todo = [(pid, None)]
    while todo:
        p, parent_statm = todo.pop()
        statm = _statm(p)
        if statm is None:
            continue
        if statm != parent_statm:
            name = _comm(p)
            out[name] = out.get(name, 0) + int(statm.split()[1]) * _PAGE
        todo.extend((c, statm) for c in kids.get(p, ()))
    return out


class PeakRss:
    """Samples the RSS summed over this process and all its descendants
    (driver, JVM, Python workers) every ``interval`` seconds. ``peak`` is
    the largest sum, ``parts`` its split by command name."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            parts = tree_rss_bytes(pid)
            if sum(parts.values()) > self.peak:
                self.peak, self.parts = sum(parts.values()), parts
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class OldGenPeak:
    """Peak bytes in use in the JVM's old generation between enter and
    exit, where pinned and cached blocks end up. Read from the memory pool
    beans; no collection is forced."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [
            p for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
            and ("Old" in p.getName() or "Tenured" in p.getName())
        ]
        self.peak = 0

    def __enter__(self) -> "OldGenPeak":
        for p in self.pools:
            p.resetPeakUsage()
        return self

    def __exit__(self, *exc) -> None:
        self.peak = sum(p.getPeakUsage().getUsed() for p in self.pools)


# ---------------------------------------------------------------------------
# host calibration
# ---------------------------------------------------------------------------


def _md5_mb(seconds: float) -> float:
    buf = b"\x5a" * (1 << 20)
    n = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        hashlib.md5(buf).digest()
        n += 1
    return float(n)


def calibrate(threads: int, seconds: float = 0.1) -> dict:
    """md5 MB/s on 1 thread and on ``threads`` threads (hashlib releases
    the interpreter lock on large buffers)."""
    one = _md5_mb(seconds) / seconds
    with ThreadPoolExecutor(threads) as ex:
        many = sum(ex.map(_md5_mb, [seconds] * threads)) / seconds
    return {"md5_mb_s_1t": one, f"md5_mb_s_{threads}t": many}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
