"""Spans around calls into the engine's layers, with Spark's counters.

A span records one call into a layer's public function: the layer, a
name, its start and end, its parent span, and the Spark work that ran
inside it. Each span runs its jobs under its own job group, so after the
span ends the status tracker names exactly its jobs; the stage REST API
then gives their executor CPU and GC time, input, output, shuffle and
spill. Counters are read after the span's end time is taken, so the
reading costs no span any time; it shows up as ``trace.overhead_frac``.

Spans are kept in memory and written out when the run ends. A disabled
tracer records nothing and makes no call into Spark.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
import urllib.request
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: int | None
    start: float
    end: float = 0.0
    excluded: float = 0.0  # counter reads of child spans inside [start, end]
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start - self.excluded


class SparkCounters:
    """Reads Spark's public counters for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._get("/jobs")  # the REST server's first answer is slow; pay it here

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status store holds the finished jobs' stages."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(STAGE_FIELDS.values(), 0)
        out["jobs"] = len(job_ids)
        out["stages"] = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                for attempt in self._get(f"/stages/{sid}?details=false"):
                    if attempt.get("status") == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for src, dst in STAGE_FIELDS.items():
                        out[dst] += attempt.get(src, 0) or 0
        return out

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


class Tracer:
    """Spans of one run. ``enabled`` switches recording per operation; a
    tracer made with ``trace=False`` can never be enabled."""

    def __init__(self, spark, trace: bool):
        self.enabled = False
        self.sc = spark.sparkContext
        self.counters = SparkCounters(spark) if trace else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.op: int | None = None  # operation the next spans belong to

    def group(self) -> str:
        return f"perfbench-{self._stack[-1].id}" if self._stack else "perfbench"

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """Record one call into ``layer``; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None, layer, name, self.op, time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(self.group(), f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self.group(), "perfbench")
            t0 = time.perf_counter()
            self.counters.drain()
            s.counters.update(self.counters.jobs(f"perfbench-{s.id}"))
            spent = time.perf_counter() - t0
            for open_span in self._stack:
                open_span.excluded += spent
            self.spans.append(s)

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "layer": s.layer, "name": s.name, "op": s.op,
             "start": s.start, "seconds": s.seconds, "counters": s.counters}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus its children's."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - child.get(s.id, 0.0)
        return out

    def total(self, key: str, spans: list[Span] | None = None) -> float:
        """Sum of a counter over spans (each job counted once: a span's
        counters cover only its own job group, not its children's)."""
        return sum(s.counters.get(key, 0) for s in (self.spans if spans is None else spans))

    def group_counters(self, group: str) -> dict[str, float]:
        """Counters of a job group run outside any span, such as the one a
        streaming query runs its micro-batches under (its run id)."""
        self.counters.drain()
        return self.counters.jobs(group)

    def of_op(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]
