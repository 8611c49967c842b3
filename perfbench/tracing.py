"""Spans around the benchmark's calls into each layer, plus Spark engine
counters attributed to them.

Every span sets the Spark job group ``pb-<span id>`` while it is open, so
each Spark job it submits is tagged with the innermost open span. After a
benchmark job (a root span) ends, ``Tracer.collect`` waits for the listener
bus to drain and reads those jobs' stage metrics from the status store,
which exists with the UI disabled. Spans stay in memory and are written
out once with ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

from perfbench.stats import covered, self_time

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "job" (one benchmark job), "build", "action" or "setup"
    parent: int | None
    job: int | None  # benchmark job index shared by all spans of one job
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # (spark job id, submitted, completed) in epoch seconds
    spark_jobs: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)  # this span's own jobs only

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    def span(self, name: str, kind: str = "build", job: int | None = None):
        return contextlib.nullcontext(None)


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "build", job: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            kind=kind,
            parent=parent.id if parent else None,
            job=job if parent is None else parent.job,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._jsc.setJobGroup(f"pb-{s.id}", name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is None:
                self._jsc.clearJobGroup()
            else:
                self._jsc.setJobGroup(f"pb-{parent.id}", parent.name, False)

    def collect(self, root: Span) -> None:
        """Attach Spark job intervals and stage counters to every span under
        ``root``; call after ``root`` has closed."""
        jsc_sc = self._jsc.sc()
        jsc_sc.listenerBus().waitUntilEmpty()
        store = jsc_sc.statusStore()
        tracker = self._jsc.statusTracker()
        for s in subtree(self.spans, root):
            s.counters = dict.fromkeys(COUNTERS, 0)
            for jid in sorted(tracker.getJobIdsForGroup(f"pb-{s.id}")):
                data = store.job(jid)
                sub, done = data.submissionTime(), data.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.spark_jobs.append(
                        (jid, sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
                s.counters["jobs"] += 1
                stage_ids = data.stageIds()
                for k in range(stage_ids.size()):
                    self._add_stage(store, stage_ids.apply(k), s.counters)

    def _add_stage(self, store, stage_id: int, c: dict) -> None:
        # A stage shared by several jobs ran in the first one; later jobs
        # list it as skipped.
        if stage_id in self._seen_stages:
            return
        self._seen_stages.add(stage_id)
        st = store.lastStageAttempt(stage_id)
        if st.status().toString() == "SKIPPED":
            return
        c["stages"] += 1
        c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        c["task_s"] += st.executorRunTime() / 1e3
        c["task_cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1e3
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["spill_bytes"] += st.diskBytesSpilled()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and all its descendants (spans are stored parents first)."""
    inside = {root.id}
    out = [root]
    for s in spans:
        if s.id > root.id and s.parent in inside:
            inside.add(s.id)
            out.append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus what its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: self_time(s.start, s.end, children.get(s.id, ())) for s in spans}


def totals(spans: list[Span]) -> dict:
    """Engine counters summed over ``spans``."""
    out = dict.fromkeys(COUNTERS, 0)
    for s in spans:
        for k, v in s.counters.items():
            out[k] += v
    return out


def driver_overhead(spans: list[Span]) -> float:
    """Time inside outermost action spans that no Spark job's
    submit-to-complete interval covers: planning, codegen and scheduling."""
    by_id = {s.id: s for s in spans}
    total = 0.0
    for s in spans:
        if s.kind != "action":
            continue
        p = by_id.get(s.parent)
        if p is not None and p.kind == "action":
            continue
        jobs = [(a, b) for t in subtree(spans, s) for _, a, b in t.spark_jobs]
        total += s.dur - covered(jobs, s.start, s.end)
    return total
