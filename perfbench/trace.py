"""In-memory spans recorded around the benchmark's calls into each layer,
plus Spark job/stage/task counts attached to each operation.

Spans live in a list and are written out once, when the run ends. A span's
self time is its duration minus the part covered by its children. Every
operation runs under its own Spark job group, so the status tracker can
tell which jobs, stages and tasks the operation caused.

The untraced run uses ``Tracer(enabled=False)``: ``span`` then returns one
shared no-op context and no job group is set.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._op: int | None = None
        self.groups: dict[int, str] = {}
        #: seconds spent inside the tracer's own bookkeeping during ops
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def _record(self, name: str, attrs: dict | None):
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, 0.0, parent, self._op, attrs=dict(attrs or {}))
        self.spans.append(span)
        self._stack.append(span)
        t1 = time.perf_counter()
        span.start = t1
        try:
            yield span
        finally:
            t2 = time.perf_counter()
            span.end = t2
            self._stack.pop()
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span timed elsewhere (e.g. a raw ``sqlite3`` floor)."""
        if self.enabled:
            parent = self._stack[-1].id if self._stack else None
            self.spans.append(Span(len(self.spans), name, start, parent, self._op, end, dict(attrs)))

    @contextlib.contextmanager
    def within(self, op_id: int):
        """Attribute spans recorded outside an operation (its floors) to it."""
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    def span(self, name: str, **attrs):
        """Context manager timing one call; yields the ``Span`` (or None)."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, attrs)

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, phase: str):
        """Root span of one operation, run under its own Spark job group."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        group = f"perfbench-{op_id}"
        self._sc.setJobGroup(group, kind)
        self.groups[op_id] = group
        self._op = op_id
        self.overhead_s += time.perf_counter() - t0
        try:
            with self._record(f"op.{kind}", {"kind": kind, "phase": phase}) as span:
                yield span
        finally:
            t1 = time.perf_counter()
            self._op = None
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def attach_job_counts(self) -> None:
        """Attach jobs/stages/tasks per operation to its root span.

        Read from the status tracker after the run, once the listener bus
        has delivered every task end."""
        if not self.enabled:
            return
        time.sleep(0.5)
        tracker = self._sc.statusTracker()
        roots = {s.op: s for s in self.spans if s.parent is None and s.op is not None}
        for op_id, group in self.groups.items():
            jobs = stages = tasks = 0
            first_stage_tasks = None
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in sorted(info.stageIds):
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped (reused) stage
                    stages += 1
                    tasks += st.numCompletedTasks
                    if first_stage_tasks is None:
                        first_stage_tasks = st.numCompletedTasks
            if op_id in roots:
                roots[op_id].attrs.update(
                    jobs=jobs, stages=stages, tasks=tasks, first_stage_tasks=first_stage_tasks or 0
                )

    def self_seconds(self, span: Span) -> float:
        """Duration minus the union of the children's intervals."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "op": s.op,
                        "start": s.start,
                        "end": s.end,
                        "self_s": self.self_seconds(s),
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def scan_output_rows(df) -> int | None:
    """``numOutputRows`` of the executed plan's leaf scan: the rows the
    SQLite reader handed to Spark, before Spark re-applies the filter."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            metric = leaves.apply(i).metrics().get("numOutputRows")
            if metric.isDefined():
                total += int(metric.get().value())
        return total
    except Exception:  # plan shape differs across Spark versions
        return None
