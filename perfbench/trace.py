"""Spans around calls into the engine, with Spark's counters per span.

A span times one call. With tracing on it also

* sets a Spark job group named after the span, so every job the call
  launches is attributed to it (the parent's group is restored on exit);
* reads, after the call, the jobs of that group from ``statusTracker()``
  and each of their stages from the status store
  (``sc._jsc.sc().statusStore().lastStageAttempt(sid)``): tasks run,
  shuffle bytes read and written, bytes spilled and executor run time;
* sums the optimization and physical-planning time of every
  QueryExecution that finished during the call (``plan_s``), as Spark's
  own ``QueryPlanningTracker`` measured it, through a
  ``QueryExecutionListener`` registered on the session;
* keeps the span in memory until ``write`` is called at the end of the
  run.

With tracing off a span only records its start and end, so the
untraced run pays for two clock reads per call. The traced run's own
bookkeeping (counter reads, listener-bus drains) is summed in
``bookkeeping_s`` and happens outside every span's interval.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "plan_s",
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    phase: str
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        # "setup" or "measure": stamped on each span, so per-layer
        # figures can leave out the warm-up calls.
        self.phase = "setup"
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._next_id = 0
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the current session (each set-up starts a new one)."""
        self._sc = spark.sparkContext
        if self.enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self._sc._gateway)
            self._planning = _PlanningListener()
            spark._jsparkSession.listenerManager().register(self._planning)

    def start_measure(self) -> None:
        """Stamp later spans "measure"; drop planning time not yet claimed.

        Queries that ran outside every span (the output checks) must not
        count towards the first measured span.
        """
        self.phase = "measure"
        if self.enabled:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            self._planning.take()

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self._group(span), span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._next_id, parent.span_id if parent else None,
                 self.run_id, self.phase, attrs=attrs)
        self._next_id += 1
        if self.enabled:
            self._set_group(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)
                s.counters = self._counters(self._group(s))
                self.spans.append(s)
                self.bookkeeping_s += time.perf_counter() - s.end

    def _counters(self, group: str) -> dict:
        sc = self._sc
        jsc = sc._jsc.sc()
        # The status store is filled from the listener bus asynchronously;
        # drain it so the last stage of the call is counted.
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(COUNTERS, 0)
        c["plan_s"] = self._planning.take()
        c["jobs"] = len(job_ids)
        store = jsc.statusStore()
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["executor_run_s"] += st.executorRunTime() / 1000.0
        return c

    def self_times(self) -> dict[int, float]:
        """Each span's wall time minus the time its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.span_id] = s.wall - covered
        return out

    def write(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["wall_s"] = s.wall
                rec["self_s"] = selfs[s.span_id]
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


class _PlanningListener:
    """A ``QueryExecutionListener``, called from the JVM through py4j.

    Spark calls it on its listener bus after each query execution ends;
    ``Tracer._counters`` drains the bus before it ``take``s the sum.
    """

    PHASES = ("optimization", "planning")

    def __init__(self):
        self._ms = 0

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        for p in self.PHASES:
            got = phases.get(p)
            if got.isDefined():
                self._ms += got.get().durationMs()

    def onFailure(self, func_name, qe, exception):
        self.onSuccess(func_name, qe, 0)

    def take(self) -> float:
        ms, self._ms = self._ms, 0
        return ms / 1000.0

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
