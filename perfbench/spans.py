"""Spans around the benchmark's calls into the program, with Spark stage metrics.

A span records a name, start, end, parent and run id. While a span is open,
Spark's job group is ``<run id>:<span id>:<name>`` (described by the name),
so every job the call runs can be found in Spark's status store afterwards. That store is read through py4j and works
with ``spark.ui.enabled=false``. Spans stay in memory and are written as
JSON lines when the run ends.

With tracing off, ``Tracer.span`` only yields; no job group is set and no
store is read.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# v1.StageData getter -> (metric name, scale to seconds or bytes)
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("resultSize", "result_bytes", 1),
)

@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._collected = 0  # spans[:_collected] have their stage metrics

    @contextmanager
    def span(self, name: str):
        """Time one public call. Yields the open ``Span`` (None when off)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            span_id=len(self.spans),
            parent_id=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        s.group = f"{self.run_id}:{s.span_id}:{name}"
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def collect_stage_metrics(self) -> None:
        """Read jobs and stage metrics of each span not read yet.

        Called between calls, with no span open, so reading the store adds
        no time to any span. Reading after every call means the store need
        keep only one call's jobs and stages, so the traced run runs with
        Spark's default status-store retention, as the untraced run does."""
        assert not self._stack, "stage metrics are read with no span open"
        # Wait until the listener has put the last call's job and stage ends
        # into the store.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for s in self.spans[self._collected:]:
            s.counters.update(job_group_metrics(self.spark, s.group))
        self._collected = len(self.spans)

    def self_seconds(self, s: Span) -> float:
        """Span time minus the time its direct children cover."""
        kids = sum(c.seconds for c in self.spans if c.parent_id == s.span_id)
        return s.seconds - kids

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["seconds"] = s.seconds
                row["self_seconds"] = self.self_seconds(s)
                f.write(json.dumps(row) + "\n")


def job_group_metrics(spark, group: str) -> dict:
    """Sum stage metrics over the jobs Spark ran under ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    out = {name: 0 for _, name, _ in _STAGE_FIELDS}
    out["jobs"] = len(job_ids)
    seen: set[int] = set()
    for jid in job_ids:
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            for getter, name, scale in _STAGE_FIELDS:
                out[name] += getattr(st, getter)() * scale
    return out
