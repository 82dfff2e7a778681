"""In-memory spans and Spark status-store readings for the traced run.

Spans are recorded around the benchmark's own calls into the package's
public functions (``name``, ``start``, ``end``, ``parent``, ``run_id``)
and written out once, when the run ends. Stage metrics are read from
Spark's status store for the jobs of one job group: the benchmark tags
its own calls with ``setJobGroup``, and Structured Streaming tags every
job of a streaming query with the query's ``runId`` as its group.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import dataclass


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": time.time(),
                    "parent": parent,
                    "run_id": self.run_id,
                    **attrs,
                }
            )

    def write(self, path: str, **extra) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


@dataclass
class StageTotals:
    """Sums over the completed stages of some jobs."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # Longest task ÷ stage wall time, for the stage with the most executor run time.
    max_task_share: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for name in self.__dataclass_fields__:
            if name != "max_task_share":
                setattr(self, name, getattr(self, name) + getattr(other, name))
        self.max_task_share = max(self.max_task_share, other.max_task_share)


_MB = 1024 * 1024


def flush_listener_bus(spark) -> None:
    """The status store is fed asynchronously; wait until it has seen
    every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def group_totals(spark, group: str) -> StageTotals:
    """Stage metrics of every job in job group ``group``."""
    sc = spark.sparkContext
    flush_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    out = StageTotals()
    longest_stage_run = -1.0
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            try:
                sd = store.lastStageAttempt(stage_id)
            except Exception:  # evicted from the store, or never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out.tasks += sd.numCompleteTasks()
            run_s = sd.executorRunTime() / 1e3
            out.run_s += run_s
            out.cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
            out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            if run_s > longest_stage_run:
                longest_stage_run = run_s
                out.max_task_share = _max_task_share(store, sd)
    return out


def _max_task_share(store, sd) -> float:
    if not (sd.submissionTime().isDefined() and sd.completionTime().isDefined()):
        return 0.0
    wall_ms = sd.completionTime().get().getTime() - sd.submissionTime().get().getTime()
    tasks = store.taskList(sd.stageId(), sd.attemptId(), 100_000)
    longest = 0
    it = tasks.iterator()
    while it.hasNext():
        duration = it.next().duration()
        if duration.isDefined():
            longest = max(longest, duration.get())
    return longest / wall_ms if wall_ms > 0 else 0.0
