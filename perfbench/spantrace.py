"""Per-layer spans for the traced run, timed from outside the program.

A span runs one call into a layer under its own Spark job group. After
the call returns, the group's stages are read from the application
status store (it is filled with ``spark.ui.enabled=false`` too), which
gives task time, GC time, shuffle bytes written and bytes spilled.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

_MB = float(1 << 20)
FIELDS = ("self_s", "task_s", "gc_s", "shuffle_mb", "spill_mb")


@dataclass
class Span:
    name: str
    self_s: float = 0.0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    rows_out: int = 0


class SpanRecorder:
    """Runs calls as spans and keeps them in memory until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._n = 0
        self.spans: list[Span] = []

    def run(self, name: str, fn):
        """Call ``fn()`` as span ``name``; return (span, fn's result)."""
        self._n += 1
        group = f"span-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        span = Span(name, self_s=wall)
        self._add_stages(span, group)
        self.spans.append(span)
        return span, result

    def _add_stages(self, span: Span, group: str) -> None:
        # the status store is fed asynchronously by the listener bus:
        # drain it so every stage of the group has its final metrics
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: the stage never ran
                    continue
                span.task_s += sd.executorRunTime() / 1000.0
                span.gc_s += sd.jvmGcTime() / 1000.0
                span.shuffle_mb += sd.shuffleWriteBytes() / _MB
                span.spill_mb += sd.diskBytesSpilled() / _MB


def combine(name: str, terms: dict[str, float], spans: dict[str, Span]) -> Span:
    """A layer as a signed sum of measured spans, e.g. the pip layer is
    the geotag+pip prefix minus the geotag prefix. ``rows_out`` comes
    from the span with the largest positive weight."""
    out = Span(name)
    for probe, w in terms.items():
        s = spans[probe]
        for f in FIELDS:
            setattr(out, f, getattr(out, f) + w * getattr(s, f))
    top = max(terms, key=terms.get)
    out.rows_out = spans[top].rows_out
    return out
