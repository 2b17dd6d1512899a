"""Outside-in tracing: one span around each call into the package.

A span sets its id as the Spark job group for the duration of the call,
so every job the call triggers is attributed to it. Right after the
call the span reads that group's stages from the live status store
(``sc._jsc.sc().statusStore()``; works with ``spark.ui.enabled=false``)
before ``spark.ui.retainedStages`` can evict them. Only COMPLETE stages
submitted inside the span count: AQE leaves SKIPPED stages behind, and a
shuffle stage reused from an earlier call keeps its earlier submission
time.

Spans stay in memory and are written as one JSON ledger at the end.
"""

from __future__ import annotations

import contextlib
import json
import time

MB = 1024.0 * 1024.0

#: per-span metrics, in ledger and report order
SPAN_METRICS = ("wall_s", "jobs", "task_s", "wait_s", "shuffle_mb", "rows_out")


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → its duration minus the part its child spans cover."""
    kids: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_seconds(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


class Tracer:
    """Records spans for one benchmark process (``run_id``)."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._all_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self._n = 0
        self._overhead = 0.0   # seconds spent in this class's bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        self._n += 1
        sid = f"{self.run_id}.{self._n}"
        parent = self._stack[-1][0] if self._stack else None
        if parent is None:
            self._overhead = 0.0
        self._stack.append((sid, name))
        self.sc.setJobGroup(sid, name)
        self._overhead += time.perf_counter() - t0
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec = {"id": sid, "name": name, "parent": parent,
                   "run": self.run_id, "start": start, "end": end,
                   "wall_s": end - start}
            rec.update(self._stage_stats(sid, start, end))
            self._overhead += time.perf_counter() - t0
            if parent is None:
                # a root span carries the bookkeeping time of its whole tree
                rec["overhead_s"] = self._overhead
            self.spans.append(rec)

    def _stage_stats(self, group: str, start: float, end: float) -> dict:
        # the status store is fed by the asynchronous listener bus: drain
        # it so the call's last stage-completed events have landed
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        agg = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_s": 0.0,
               "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
               "shuffle_read_mb": 0.0, "spill_mb": 0.0}
        intervals = []
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._all_tasks, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                sub = st.submissionTime()
                if (st.status().name() != "COMPLETE" or sub.isEmpty()
                        or sub.get().getTime() / 1000.0 < start - 0.001):
                    continue
                done = st.completionTime()
                t1 = done.get().getTime() / 1000.0 if done.isDefined() else end
                intervals.append((sub.get().getTime() / 1000.0, t1))
                agg["stages"] += 1
                agg["tasks"] += st.numTasks()
                agg["task_s"] += st.executorRunTime() / 1000.0
                agg["cpu_s"] += st.executorCpuTime() / 1e9
                agg["gc_s"] += st.jvmGcTime() / 1000.0
                agg["shuffle_mb"] += st.shuffleWriteBytes() / MB
                agg["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                agg["spill_mb"] += st.diskBytesSpilled() / MB
        agg["wait_s"] = agg["task_s"] - agg["cpu_s"]
        # time inside the span with no stage of its own running: planning,
        # driver collects, file commits and other driver barriers
        agg["driver_s"] = (end - start) - union_seconds(intervals, start, end)
        return agg

    def write(self, path: str, meta: dict) -> None:
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump({**meta, "run_id": self.run_id, "spans": self.spans}, f,
                      indent=1)
