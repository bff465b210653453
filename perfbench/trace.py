"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end, parent and op id.  Spans stay in memory and
are written once, when the benchmark ends.  A span opened with
``spark=True`` runs its Spark jobs under a job group of its own and, when it
closes, reads the summed stage metrics of those jobs from the status store.

:class:`NullTracer` has the same interface and records nothing; the
untraced run uses it, so both runs execute the same code.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from perfbench.stats import self_times

SPARK_COUNTERS = (
    "jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "max_task_s",
)


def spark_counters(sc, group: str) -> dict:
    """Summed metrics of every stage run by the jobs of ``group``."""
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; drain it first
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    out["jobs"] = float(len(jobs))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage evicted or never run
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["tasks"] += st.numCompleteTasks()
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        tasks = store.taskList(sid, st.attemptId(), 1 << 30)
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out["max_task_s"] = max(out["max_task_s"], d.get() / 1e3)
    return out


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, *, op_id: int | None = None, spark: bool = False):
        parent = self._stack[-1] if self._stack else None
        group = None
        if spark and self.sc is not None:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.sc.setJobGroup(group, name)
        s = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
            "start": time.perf_counter(), "end": None, "counts": {},
            "_group": group,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                s["spark"] = spark_counters(self.sc, group)
                # jobs after this span belong to the enclosing spark span
                outer = next(
                    (p for p in reversed(self._stack) if p["_group"]), None
                )
                if outer is not None:
                    self.sc.setJobGroup(outer["_group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, span: dict, **counts) -> None:
        span["counts"].update(counts)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        out = []
        for s in self.spans:
            d = {k: v for k, v in s.items() if not k.startswith("_")}
            d["self_s"] = selfs[s["id"]]
            out.append(d)
        with open(path, "w") as f:
            json.dump(out, f)


class NullTracer:
    """Tracer interface that records nothing."""

    @contextmanager
    def span(self, name: str, *, op_id: int | None = None, spark: bool = False):
        yield {}

    def count(self, span: dict, **counts) -> None:
        pass
