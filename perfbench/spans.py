"""Tracing for the benchmark's traced runs.

Spans are recorded around the engine's public boundaries by wrapping
them from outside the package (nothing under veealign_spark/ is
edited). Each wrapper also sets a Spark job group named after its span,
on the thread that runs it, so every Spark job a span submits can be
found again in the event log. After the session stops, the event log is
read into executor metrics per span.

Spans stay in memory; `Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

GROUP_PREFIX = "perfbench-"
# incremental_update names its ledger stages inc_<fingerprint>_<stage>
INC_STAGE = re.compile(r"^inc_[0-9a-f]+_")
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    thread: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and owns the wrappers around the engine's public
    functions. `install` wraps them, `uninstall` puts the originals
    back; untraced operations run with nothing installed."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: Span | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # pool threads start with an empty stack: their spans belong to
        # the operation that submitted them
        parent = stack[-1] if stack else self._op
        with self._lock:
            sid = next(self._ids)
        s = Span(
            sid, name, parent.sid if parent else None,
            self._op.sid if self._op else sid, time.perf_counter(),
            thread=threading.current_thread().name,
        )
        saved = {k: self._sc.getLocalProperty(k) for k in _JOB_PROPS}
        self._sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        self._sc.setLocalProperty("spark.job.description", name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            for k, v in saved.items():
                self._sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def op(self, name: str):
        """Root span of one timed operation."""
        with self.span(name) as s:
            self._op = s
            try:
                yield s
            finally:
                self._op = None

    def _wrap(self, owner, attr: str, span_name) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from veealign_spark.operators import canonicalize
        from veealign_spark.plans import incremental, pipeline, standing

        def stage_name(_ledger, name, *_a, **_k):
            return "stage." + INC_STAGE.sub("", name)

        self._wrap(pipeline.StageLedger, "stage", stage_name)
        # incremental imports score_candidates_stage by name, so it is
        # wrapped where each module looks it up
        for mod in (pipeline, incremental):
            self._wrap(mod, "score_candidates_stage", "scoring.score_candidates_stage")
        self._wrap(incremental, "incremental_update", "incremental.incremental_update")
        self._wrap(standing, "publish_standing", "standing.publish_standing")
        self._wrap(standing, "load_standing", "standing.load_standing")
        self._wrap(canonicalize, "connected_components", "canonicalize.connected_components")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))

    # ---- span-tree arithmetic -------------------------------------

    def tree(self, root: Span) -> list[Span]:
        """`root` and every span below it."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s.sid])
        return out

    def self_times(self, root: Span) -> tuple[dict[int, float], float]:
        """Each span's duration minus the part its children cover; where
        spans on several threads are busy at once, that stretch of wall
        time is split evenly between them, so the self times of a tree
        add up to its root's duration. Also returns the busy time of
        spans that ran alongside another one (span-seconds beyond one at
        a time)."""
        spans = self.tree(root)
        out = {s.sid: 0.0 for s in spans}
        concurrent = 0.0
        points = sorted({s.start for s in spans} | {s.end for s in spans})
        for a, b in zip(points, points[1:]):
            active = [s for s in spans if s.start <= a and s.end >= b]
            busy = {s.parent for s in active}
            leaves = [s for s in active if s.sid not in busy]
            for s in leaves:
                out[s.sid] += (b - a) / len(leaves)
            concurrent += (b - a) * (len(leaves) - 1)
        return out, concurrent


@dataclass
class ExecStats:
    """Executor-side totals of the Spark jobs run under one span."""

    jobs: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_ms: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "ExecStats") -> None:
        self.jobs += other.jobs
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_read_mb += other.shuffle_read_mb
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb
        for st, ms in other.task_ms.items():
            self.task_ms.setdefault(st, []).extend(ms)

    @property
    def task_skew(self) -> float:
        """Longest task over the median task, in the Spark stage that
        took the most task time."""
        if not self.task_ms:
            return 0.0
        ms = max(self.task_ms.values(), key=sum)
        med = statistics.median(ms)
        return max(ms) / med if med > 0 else 0.0


def read_event_log(log_dir: Path) -> dict[int, ExecStats]:
    """Per-span executor metrics from an uncompressed Spark event log,
    keyed by span id (jobs outside any span are dropped)."""
    # a rolling log is a directory of events_<n>_<app> parts
    files = sorted(
        (p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(("appstatus", "."))),
        key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p.name)],
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_span: dict[int, int] = {}
    stats: dict[int, ExecStats] = defaultdict(ExecStats)

    def span_of(props: dict | None) -> int | None:
        g = (props or {}).get("spark.jobGroup.id") or ""
        return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None

    mb = 1e6
    for path in files:
        for line in path.read_text().splitlines():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stats[sid].jobs += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
            elif kind == "SparkListenerStageSubmitted":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                s = stats[sid]
                s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                s.gc_s += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                s.shuffle_read_mb += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / mb
                s.shuffle_write_mb += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
                )
                s.spill_mb += m.get("Disk Bytes Spilled", 0) / mb
                s.task_ms.setdefault(ev["Stage ID"], []).append(
                    float(m.get("Executor Run Time", 0))
                )
    return stats
