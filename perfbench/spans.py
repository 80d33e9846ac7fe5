"""In-memory span tree for the traced run, and the Spark status-store
reader that hangs jobs, stages and streaming batches under the span that
started them.

The tree is: pass -> entry -> ``catalog.build`` / ``catalyst.plan`` /
``exec.force``; Spark jobs (and their stages) sit under the span whose
job group started them, streaming batches under ``catalog.build``. Every
span of one entry call carries the same ``entry_id``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# StageData fields summed into the exec layer, by metric name. Times are
# milliseconds except executorCpuTime (nanoseconds).
STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "input_rows": "inputRecords",
    "output_rows": "outputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    entry_id: int = 0
    children: list[Span] = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "entry_id": self.entry_id,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "self_s": round(self_time(self), 6),
            "counters": self.counters,
            "children": [c.to_dict() for c in self.children],
        }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_time(span: Span) -> float:
    """Span duration minus the time covered by its children. Children may
    overlap each other (concurrent jobs) and may run past the span; each
    instant inside the span is subtracted at most once."""
    return span.duration - union_length(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


class StatusReader:
    """Reads finished jobs and stages from the driver's status store (works
    with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    def drain(self) -> None:
        """Wait until every posted listener event has been processed, so
        the store (and Python listeners) have seen all finished work."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, group: str) -> list[Span]:
        """One span per job of ``group``, with its ran stages as children
        and the summed stage metrics as counters."""
        spans = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._json(self._store.job(jid))
            start = job["submissionTime"] / 1000.0
            end = (job.get("completionTime") or job["submissionTime"]) / 1000.0
            span = Span(f"job.{jid}", start, end)
            span.counters = {k: 0 for k in STAGE_FIELDS}
            span.counters["stages"] = 0
            for sid in job["stageIds"]:
                stage = self._json(self._store.lastStageAttempt(sid))
                if stage["status"] != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                st_end = (stage.get("completionTime") or stage["submissionTime"]) / 1000.0
                child = Span(f"stage.{sid}", stage["submissionTime"] / 1000.0, st_end)
                child.counters = {k: stage[f] for k, f in STAGE_FIELDS.items()}
                span.children.append(child)
                span.counters["stages"] += 1
                for k in STAGE_FIELDS:
                    span.counters[k] += child.counters[k]
            spans.append(span)
        return spans
