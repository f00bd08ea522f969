"""Spans recorded from outside the program, plus Spark's own trackers.

The benchmark times its calls into the package (``build``, ``action``,
``sources.*``, ``streaming.*`` spans) with ``time.time()``.  The layers
below them come from Spark: planner phases from the executed query's
``queryExecution().tracker()``, jobs and stages from the JVM status
store, looked up by the job group set before each step's build.  Both
clocks are wall clocks in milliseconds or better, so JVM intervals
nest inside Python spans.

Spans are kept in memory and written once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span tree.  Each span: id, parent, step id, name,
    start, end (epoch seconds) and attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.step_id: str | None = None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "step": self.step_id, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(span["id"])]
        return (span["end"] - span["start"]) - union_length(kids, span["start"], span["end"])

    def layer_self_times(self, step_id: str) -> dict[str, float]:
        """Self time per span name within one step: the union of the
        name's spans minus the part their children cover.  Unions, not
        sums, so jobs or stages that run concurrently count once."""
        spans = [s for s in self.spans if s["step"] == step_id]
        out: dict[str, float] = {}
        for name in {s["name"] for s in spans}:
            own = [s for s in spans if s["name"] == name]
            ids = {s["id"] for s in own}
            mine = [(s["start"], s["end"]) for s in own]
            kids = [(s["start"], s["end"]) for s in spans if s["parent"] in ids]
            lo, hi = min(a for a, _ in mine), max(b for _, b in mine)
            covered = (union_length(mine, lo, hi) + union_length(kids, lo, hi)
                       - union_length(mine + kids, lo, hi))
            out[name] = union_length(mine, lo, hi) - covered
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    step_id = None

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


# --- JVM-side readers ------------------------------------------------


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def planner_phases(jvm, df) -> dict[str, tuple[float, float]]:
    """``{phase: (start, end)}`` from the query's planner tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    jmap = jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return {k: (v.startTimeMs() / 1000.0, v.endTimeMs() / 1000.0) for k, v in jmap.items()}


def job_records(sc, groups: list[str]) -> list[dict]:
    """Jobs of the given job groups with their stages' work metrics."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = []
    for group in groups:
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is None or end is None:
                continue
            stages = []
            ids = job.stageIds()
            for i in range(ids.length()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:  # py4j error for a stage the store evicted
                    continue
                if str(st.status()) != "COMPLETE":
                    continue  # skipped stage: a reused shuffle, no work done
                skew = None
                summ = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    skew = mx / med if med > 0 else None
                stages.append({
                    "stage": st.stageId(), "tasks": st.numTasks(),
                    "start": _opt_ms(st.submissionTime()), "end": _opt_ms(st.completionTime()),
                    "run_s": st.executorRunTime() / 1e3, "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3, "input_b": st.inputBytes(),
                    "shuffle_read_b": st.shuffleReadBytes(), "shuffle_write_b": st.shuffleWriteBytes(),
                    "spill_b": st.diskBytesSpilled(), "skew": skew,
                })
            out.append({"job": jid, "start": start, "end": end, "stages": stages})
    return out


def plan_rows(jvm_plan) -> tuple[int, int]:
    """(rows emitted by Generate nodes, rows emitted by scans) in an
    executed plan, descending through AQE wrappers and query stages."""
    gen = scan = 0
    todo = [jvm_plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("numOutputRows"):
            n = metrics.apply("numOutputRows").value()
            if name == "Generate":
                gen += n
            elif "Scan" in name:
                scan += n
        kids = node.children()
        for i in range(kids.length()):
            todo.append(kids.apply(i))
    return gen, scan
