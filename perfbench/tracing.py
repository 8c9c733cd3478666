"""Spans around calls into the program's layers, plus Spark stage metrics.

The tracer wraps module attributes from outside the program: each wrapper
records a span (name, start, end, parent) and runs the call under its own
Spark job group, so the engine's stage metrics can be read back per span
from the status store (works with ``spark.ui.enabled=false``). Spans stay
in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from stats import Span, self_time

STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "mem_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"{name}#{idx}"
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, group))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev.split("#", 1)[0])

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Replace ``module.attr`` by a span-recording wrapper until :meth:`unwrap`."""
        fn = getattr(module, attr)
        label = name or f"{module.__name__.split('.')[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(label):
                return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------------ readout

    def jobs(self, idx: int) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(self.spans[idx].group))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        out: set[int] = set()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def stage_metrics(self, stage_ids: list[int]) -> dict:
        """Sum of the engine's metrics over the stages that ran."""
        store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot["stages"] = 0
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            for k, (getter, scale) in STAGE_FIELDS.items():
                tot[k] += getattr(sd, getter)() * scale
        return tot

    def metrics_for(self, idx: int) -> dict:
        """Stage metrics of the job groups of span ``idx`` and its descendants."""
        jobs = [j for s in [idx, *self.descendants(idx)] for j in self.jobs(s)]
        out = self.stage_metrics(self.stage_ids(jobs))
        out["jobs"] = len(jobs)
        return out

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            p = todo.pop()
            kids = [i for i, s in enumerate(self.spans) if s.parent == p]
            out += kids
            todo += kids
        return out

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def self_time(self, idx: int) -> float:
        return self_time(self.spans, idx)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "group": s.group}
                    for s in self.spans
                ],
                f,
                indent=1,
            )
