"""Measurement helpers: spans, percentiles and Spark-side counters.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into each layer, and engine counters come from
Spark's status store (per job group) and from the SQL metrics of the
executed plans. Nothing in the program under test is changed.
"""

from __future__ import annotations

import math
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p (0..100) among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest ladder percentile above the median with at least
    ``beyond`` of ``n`` samples strictly past its nearest rank, or None
    when even p75 leaves fewer than ``beyond`` samples past it."""
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= beyond:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def span(self, name: str, op_id: str = ""):
        return _SpanCtx(self, name, op_id)

    def _open(self, name: str, op_id: str) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), math.nan, parent, op_id, sid))
        stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._local.stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of duration minus the part of it that
        its child spans cover (children of one span may overlap)."""
        return self_times(self.spans)

    def as_records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.sid, "name": s.name, "op": s.op_id, "parent": s.parent,
                "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: str):
        self.tracer, self.name, self.op_id = tracer, name, op_id
        self.sid: int | None = None

    def __enter__(self):
        if self.tracer.enabled:
            self.sid = self.tracer._open(self.name, self.op_id)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.tracer._close(self.sid)
        return False


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.sid, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# -- Spark status store ---------------------------------------------------

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "input_bytes",
    "input_rows", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "job_s",
)


def _opt_s(opt) -> float | None:
    """Epoch seconds of a Scala Option[Date], or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def engine_counters(spark, group: str, wall: tuple[float, float]) -> dict:
    """Sum the status-store metrics of every job run under job group
    ``group``. ``wall`` is the operation's (start, end) in epoch
    seconds; ``driver_gap_s`` is the part of it no job was running."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(ENGINE_KEYS, 0.0)
    seen: set[int] = set()
    intervals = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        a, b = _opt_s(job.submissionTime()), _opt_s(job.completionTime())
        if a is not None and b is not None:
            intervals.append((a, b))
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["input_bytes"] += st.inputBytes()
            out["input_rows"] += st.inputRecords()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out["job_s"] = covered(intervals, *wall)
    out["driver_gap_s"] = max(0.0, (wall[1] - wall[0]) - out["job_s"])
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def scan_metrics(df) -> list[dict]:
    """Per file scan of ``df``'s last execution: root paths, files read
    and rows output, from the SQL metrics of the executed plan (walks
    adaptive stages, reused exchanges and subqueries)."""
    scans, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(p.plan())
        elif kind == "ReusedExchangeExec":
            stack.append(p.child())
        if kind == "FileSourceScanExec":
            m = p.metrics()
            val = lambda k: m.get(k).get().value() if m.contains(k) else 0  # noqa: E731
            scans.append({
                "paths": [str(x) for x in _seq(p.relation().location().rootPaths())],
                "files": val("numFiles"),
                "rows": val("numOutputRows"),
            })
        stack.extend(_seq(p.children()))
        stack.extend(_seq(p.subqueries()))
    return scans
