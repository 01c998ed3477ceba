"""Layer tracing from outside the package.

The traced run wraps public functions of the package in spans. Nothing in
the package is edited: ``Warehouse`` methods are patched on the class, and
plain functions are patched where the calling module bound them (for
example ``plans.pipeline.build_dim_gene``), so the caller's own lookup
finds the wrapper.

A span records its name, start, end and parent. Each span also gets its own
Spark job group, so every job the span launches is attributed to it. After
an operation the benchmark reads the driver-local UI REST API once and
attributes each stage to the span whose job group ran it.

Spark is lazy: a span around a plan-building call holds only driver
planning time; execution is charged to the span whose call triggers the
action.
"""
from __future__ import annotations

import dataclasses
import functools
import json
import time
import urllib.request
from collections.abc import Callable, Iterable


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counters: dict = dataclasses.field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(i, [])
        )
        for i, s in enumerate(spans)
    ]


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and every span below it."""
    out = [root]
    for i in range(root + 1, len(spans)):
        p = spans[i].parent
        if p is not None and p in out:
            out.append(i)
    return out


class Tracer:
    """Span recorder bound to one SparkContext.

    ``wrap`` returns a function that runs the original inside a span;
    ``patch`` installs such wrappers and ``restore`` removes them.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seq = 0
        self.storage_peak = 0

    # -- spans ---------------------------------------------------------------
    def begin(self, name: str) -> int:
        self._seq += 1
        span = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            group=f"perfbench-{self._seq}",
        )
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setJobGroup(span.group, name)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            parent = self.spans[self._stack[-1]]
            self.sc.setJobGroup(parent.group, parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._sample_storage()

    def wrap(self, name: str, fn: Callable):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def reset(self) -> None:
        self.spans.clear()
        self._stack.clear()
        self.storage_peak = 0

    def _sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        self.storage_peak = max(self.storage_peak, used)

    def settle(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store and the REST API hold the finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()


# -- REST stage and job records ---------------------------------------------

def rest_get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


@dataclasses.dataclass
class StageRecord:
    stage_id: int
    status: str
    num_tasks: int
    executor_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    group: str | None


def stage_records(jobs: list[dict], stages: list[dict]) -> list[StageRecord]:
    """Stages with the job group of the earliest job that lists them: a
    stage runs once, in the first job that needs it; later jobs that list
    it reuse its output."""
    owner: dict[int, tuple[int, str | None]] = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            if sid not in owner or j["jobId"] < owner[sid][0]:
                owner[sid] = (j["jobId"], j.get("jobGroup"))
    out = []
    for s in stages:
        out.append(
            StageRecord(
                stage_id=s["stageId"],
                status=s["status"],
                num_tasks=s.get("numTasks", 0),
                executor_s=s.get("executorRunTime", 0) / 1000.0,
                shuffle_read=s.get("shuffleReadBytes", 0),
                shuffle_write=s.get("shuffleWriteBytes", 0),
                spill=s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0),
                group=owner.get(s["stageId"], (None, None))[1],
            )
        )
    return out


def stage_diff(before: set[tuple[int, int]], stages: list[dict]) -> list[dict]:
    """Stage attempts that appeared since the ``before`` snapshot."""
    return [s for s in stages if (s["stageId"], s["attemptId"]) not in before]


def summarize_stages(records: list[StageRecord]) -> dict[str, float]:
    """Executor time, shuffle and spill over executed stages, with the share
    of the busiest stage and the count of single-task stages."""
    ran = [r for r in records if r.status == "COMPLETE"]
    executor = sum(r.executor_s for r in ran)
    return {
        "executor_s": executor,
        "shuffle_read_bytes": sum(r.shuffle_read for r in ran),
        "shuffle_write_bytes": sum(r.shuffle_write for r in ran),
        "spill_bytes": sum(r.spill for r in ran),
        "top_stage_executor_share": (
            max(r.executor_s for r in ran) / executor if executor else 0.0
        ),
        "single_task_stages": sum(1 for r in ran if r.num_tasks == 1),
        "stages_executed": len(ran),
    }


def job_summary(jobs: list[dict]) -> dict[str, float]:
    """Job-level reuse and failure counts: a skipped stage is one whose
    output an earlier job (a shuffle or a cached block) already had."""
    completed = sum(j.get("numCompletedStages", 0) for j in jobs)
    skipped = sum(j.get("numSkippedStages", 0) for j in jobs)
    return {
        "jobs": len(jobs),
        "stage_skip_ratio": skipped / (completed + skipped) if completed + skipped else 0.0,
        "failed_tasks": sum(j.get("numFailedTasks", 0) for j in jobs),
    }
