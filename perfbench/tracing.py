"""Spans around the engine's eager boundaries, recorded from outside it.

``Tracer.install`` wraps public entry points of the package where each
module bound them (``from ... import`` copies a name into the importing
module, so every binding is patched, aliases included):

- ``session.tracked_local_checkpoint`` / ``counted_local_checkpoint``
  (span ``session.checkpoint``; the counted form also yields its row count);
- ``operators.iterate.semi_naive`` (span ``iterate.semi_naive``);
- ``streaming.maintain.TraceView.compact`` (span ``maintain.compact``).

The workloads add their own spans around ``process_batch`` calls, queries
and actions. Lazy DataFrame construction is never timed. Each span carries
the number of Spark jobs, stages and tasks started while it was open, read
from the scheduler's id counters. Spans stay in memory and are written out
as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import dataclass, field

PKG = "differential_dataflow_spark"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    counters0: tuple[int, int, int]
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def start_window(self) -> None:
        pass

    def end_window(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._tasks = sc.taskScheduler()
        self._status = spark.sparkContext.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.window: tuple[float, float] | None = None
        self._window_start = 0.0
        self.counters_window: tuple[int, int, int] = (0, 0, 0)
        self._c0 = (0, 0, 0)

    # -- counters -------------------------------------------------------- #

    def counters(self) -> tuple[int, int, int]:
        """(jobs, stages, tasks) started so far in this SparkContext."""
        return (
            int(self._dag.nextJobId()),
            int(self._dag.nextStageId()),
            int(self._tasks.nextTaskId()),
        )

    def failed_tasks(self, stage_lo: int, stage_hi: int) -> int:
        n = 0
        for sid in range(stage_lo, stage_hi):
            info = self._status.getStageInfo(sid)
            if info is not None:
                n += info.numFailedTasks
        return n

    # -- spans ------------------------------------------------------------ #

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            name,
            time.perf_counter(),
            self._stack[-1] if self._stack else None,
            self.counters(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            c = self.counters()
            s.jobs, s.stages, s.tasks = (c[i] - s.counters0[i] for i in range(3))

    def start_window(self) -> None:
        self._c0 = self.counters()
        self._window_start = time.perf_counter()

    def end_window(self) -> None:
        self.window = (self._window_start, time.perf_counter())
        c1 = self.counters()
        self.counters_window = tuple(c1[i] - self._c0[i] for i in range(3))
        self.stage_range = (self._c0[1], c1[1])

    def in_window(self, name: str) -> list[Span]:
        lo, hi = self.window
        return [s for s in self.spans if s.name == name and lo <= s.start <= hi]

    # -- wrappers ---------------------------------------------------------- #

    def install(self) -> None:
        from differential_dataflow_spark import session
        from differential_dataflow_spark.operators import iterate
        from differential_dataflow_spark.streaming.maintain import TraceView

        tracer = self

        def wrap(fn, name, rows=False):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with tracer.span(name) as s:
                    out = fn(*args, **kwargs)
                    if rows:
                        s.attrs["rows"] = out[1]
                    return out

            return traced

        originals = {
            session.tracked_local_checkpoint: wrap(
                session.tracked_local_checkpoint, "session.checkpoint"
            ),
            session.counted_local_checkpoint: wrap(
                session.counted_local_checkpoint, "session.checkpoint", rows=True
            ),
            iterate.semi_naive: wrap(iterate.semi_naive, "iterate.semi_naive"),
        }
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if callable(value) and value in originals:
                    self._patch(mod, attr, originals[value])
        self._patch(TraceView, "compact", wrap(TraceView.compact, "maintain.compact"))

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched = []

    def span_cost_s(self, n: int = 2000) -> float:
        """Measured cost of one span (enter + exit) on this host."""
        mark = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n
        del self.spans[mark:]
        return cost

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "jobs": s.jobs,
                            "stages": s.stages,
                            "tasks": s.tasks,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )
