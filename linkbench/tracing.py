"""Spans and Spark layer counters, recorded from outside the engine.

Every public engine call the benchmark makes runs inside a span. With
tracing off a span is only a stopwatch (the end-to-end metrics need the
stage times). With tracing on, each span that names a layer also gets its
own Spark job group; after the call the group's jobs and stages are read
back from the status store, which gives busy time, GC time, shuffle and
spill volume, task counts and failed tasks for exactly that call.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# The repository's modules, as the per-layer metrics name them.
LAYERS = (
    "webtext",
    "concat",
    "blocking",
    "predict",
    "training",
    "cluster",
    "incremental",
)
COUNTERS = (
    "wall_s",
    "busy_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
    "jobs",
    "tasks",
    "failed_tasks",
    "idle_slot_frac",
)
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    layer: str | None
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    # Spark stage counters (traced runs only) and counts the benchmark
    # measured at this boundary, such as pairs produced.
    counters: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Records spans; with ``traced`` also per-call Spark stage counters."""

    def __init__(self, spark, traced: bool, run_id: str) -> None:
        self.spark = spark
        self.traced = traced
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, layer, parent, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        group = f"{self.run_id}/{idx}/{name}"
        tag = self.traced and layer is not None
        if tag:
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if tag:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None
                )
                s.counters = job_group_counters(self.spark, group)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its child spans cover (children
        run one after another, so their walls add up)."""
        return self.spans[idx].wall - sum(
            c.wall for c in self.children(idx)
        )

    def leaves_under(self, idx: int) -> list[Span]:
        out: list[Span] = []
        for i, s in enumerate(self.spans):
            if s.parent == idx:
                kids = self.children(i)
                out.extend(self.leaves_under(i) if kids else [s])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                row = asdict(s)
                row["id"] = i
                row["self_s"] = self.self_time(i)
                f.write(json.dumps(row) + "\n")


def jvm_gc_seconds(spark) -> float:
    """Summed collection time of every JVM garbage collector."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()
    ) / 1000.0


def job_group_counters(spark, group: str) -> dict:
    """Sum the stage metrics of every job Spark ran under ``group``.

    Stages shared between jobs (skipped re-uses of a shuffle) are counted
    once; every attempt of a stage is counted, so a retried stage shows
    its failed tasks and its extra run time.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is fed asynchronously by the listener bus
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(spark._jvm.double, 0)
    no_status = spark._jvm.java.util.ArrayList()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = dict.fromkeys(
        ("busy_s", "gc_s", "shuffle_mb", "spill_mb", "tasks", "failed_tasks"),
        0.0,
    )
    out["jobs"] = float(len(job_ids))
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for k in range(attempts.size()):
            a = attempts.apply(k)
            out["busy_s"] += a.executorRunTime() / 1000.0
            out["gc_s"] += a.jvmGcTime() / 1000.0
            out["shuffle_mb"] += a.shuffleWriteBytes() / _MB
            out["spill_mb"] += a.diskBytesSpilled() / _MB
            out["tasks"] += a.numCompleteTasks() + a.numFailedTasks()
            out["failed_tasks"] += a.numFailedTasks() + a.numKilledTasks()
    return out


def layer_metrics(rec: Recorder, units: list[int], slots: int) -> dict:
    """Per-layer counters: for each unit of work (a pass or a
    micro-batch) sum the leaf spans of each layer, then take the median
    over the units in which the layer ran (0 when it never ran).
    ``wall_s`` is the layer's summed self time."""
    per_unit: dict[str, list[float]] = {}
    for u in units:
        sums: dict[tuple[str, str], float] = {}
        for s in rec.leaves_under(u):
            if s.layer is None:
                continue
            key = (s.layer, "wall_s")
            sums[key] = sums.get(key, 0.0) + s.wall
            for c, v in s.counters.items():
                sums[(s.layer, c)] = sums.get((s.layer, c), 0.0) + v
        for L in {layer for layer, _ in sums}:
            wall = sums[(L, "wall_s")]
            busy = sums.get((L, "busy_s"), 0.0)
            sums[(L, "idle_slot_frac")] = 1.0 - busy / (wall * slots)
        for (L, c), v in sums.items():
            per_unit.setdefault(f"{L}.{c}", []).append(v)
    out = {f"{L}.{c}": 0.0 for L in LAYERS for c in COUNTERS}
    out.update({k: statistics.median(v) for k, v in per_unit.items()})
    return out
