"""Spans and Spark status counters for the traced run.

Spans are kept in memory and written once when the run ends. Spark-side
counters come from the public status surfaces, which are populated with
the UI disabled:

- jobs and stages are counted by ID range (the DAG scheduler's next job
  and stage IDs before and after a call), never by the length of the
  retained job list, which saturates at ``spark.ui.retainedJobs``;
- per-stage task metrics come from ``AppStatusStore`` after the
  listener bus has drained, so a read right after an action sees it.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


class Spans:
    """In-memory span recorder: name, start, end, parent, attributes."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append({
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        })
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, sid: int, **attrs) -> None:
        if sid < 0:
            return
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        if self._stack and self._stack[-1] == sid:
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@dataclass
class StageTotals:
    """Task-metric totals over a contiguous range of jobs and stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    # max / median task run time of the worst stage with >= 2 tasks
    task_skew: float = 0.0


class SparkCounters:
    """Reads scheduler IDs and per-stage metrics through the JVM gateway."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway

    def mark(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def totals(self, since: tuple[int, int], until: tuple[int, int]) -> StageTotals:
        self.drain()
        store = self._sc.statusStore()
        out = StageTotals(jobs=until[0] - since[0], stages=until[1] - since[1])
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for sid in range(since[1], until[1]):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never submitted, no record
                continue
            out.tasks += st.numCompleteTasks()
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
            out.shuffle_read_mb += st.shuffleReadBytes() / 1e6
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out.input_mb += st.inputBytes() / 1e6
            if st.numCompleteTasks() >= 2:
                dist = store.taskSummary(sid, st.attemptId(), q)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, top = float(run.apply(0)), float(run.apply(1))
                    if med > 0:
                        out.task_skew = max(out.task_skew, top / med)
        return out

