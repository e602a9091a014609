"""In-memory span recorder with Spark counters per span.

Each span is one call into a library layer. While a span is open, every Spark
job the driver submits carries the span's own job group, so after the call
returns the span's jobs, stages, tasks, failed tasks, shuffle bytes and
executor time can be read back from Spark's status store. Spans stay in memory
and are written out once, by :meth:`Tracer.dump`, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    attrs: dict = field(default_factory=dict)
    #: time this span spent on its own bookkeeping: job groups and counter reads
    trace_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records a tree of spans; one Spark job group per span.

    Counters are read when a span closes and cover only the jobs submitted
    while that span was the innermost open one; :meth:`total` folds in the
    descendants'.
    """

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            start=time.monotonic(),
            attrs=dict(attrs),
        )
        sp.group = f"{self.run_id}:{sp.id}:{name}"
        self.spans.append(sp)
        self._open.append(sp)
        t0 = time.monotonic()
        self.sc.setJobGroup(sp.group, name)
        sp.trace_s = time.monotonic() - t0
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._read_counters(sp)
            sp.trace_s += time.monotonic() - sp.end

    def _read_counters(self, sp: Span) -> None:
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        job_ids = tracker.getJobIdsForGroup(sp.group)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = sp.counters
        c["jobs"] = len(job_ids)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["shuffle_read_bytes"] += st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["executor_ms"] += st.executorRunTime()

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def total(self, sp: Span, key: str) -> int:
        """A counter over the span and all its descendants."""
        return sp.counters[key] + sum(self.total(ch, key) for ch in self.children(sp))

    def trace_s(self, sp: Span) -> float:
        """Bookkeeping time of the span and all its descendants."""
        return sp.trace_s + sum(self.trace_s(ch) for ch in self.children(sp))

    def self_s(self, sp: Span) -> float:
        """Span wall time not covered by its children."""
        return sp.wall_s - sum(ch.wall_s for ch in self.children(sp))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        out = []
        for s in self.spans:
            d = asdict(s)
            d["start"] = round(s.start - t0, 6)
            d["end"] = round(s.end - t0, 6)
            d["self_s"] = round(self.self_s(s), 6)
            out.append(d)
        with open(path, "w") as f:
            json.dump({**extra, "spans": out}, f, indent=1)
