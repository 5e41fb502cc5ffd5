"""Layer spans and Spark stage metrics, read from outside the program.

``Tracer.span(layer)`` wraps one call into a layer: it records the
span's wall interval and runs every Spark job the call launches under a
job group of its own.  After a run, ``Tracer.collect()`` reads the live
``AppStatusStore`` (``sc._jsc.sc().statusStore()``, populated with the
Spark UI disabled) once, as JSON, and maps each span's job group to its
jobs, tasks, executor run and CPU time, shuffle bytes, spill bytes and
the driver gap: the part of the span's wall covered by no running job.

Spans stay in memory; ``layer_metrics`` folds them into per-layer
figures when the run ends.  A layer's figures are inclusive: a span
nested in another (``plans.materialize`` inside ``dedup.cluster``)
counts towards both layers.

A disabled tracer (the untraced runs) yields ``None`` from ``span`` and
touches neither job groups nor the status store.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Fields summed per stage, and the per-layer metric each feeds.
_STAGE_SUMS = {
    "numTasks": "tasks",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "shuffleReadBytes": "shuffle_read_b",
    "shuffleWriteBytes": "shuffle_write_b",
    "memoryBytesSpilled": "spill_mem_b",
    "diskBytesSpilled": "spill_disk_b",
}
# Per-layer metrics of a layer that runs Spark jobs, with their units.
JOB_METRICS = {
    "wall_s": "s", "driver_gap_s": "s", "jobs": "count", "tasks": "count",
    "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
}
MB = 1 << 20


@dataclass
class Span:
    layer: str
    sid: int
    parent: int | None
    group: str
    t0: float
    t1: float = 0.0
    counters: dict = field(default_factory=dict)
    # filled by Tracer.collect
    jobs: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._run = 0
        self._mapper = None

    def new_run(self) -> None:
        """Start a fresh span list (one run of a workload)."""
        self.spans = []
        self._run += 1

    @contextmanager
    def span(self, layer: str, parent: Span | None = None):
        """Run the body as one call into ``layer``.  ``parent`` names the
        enclosing span for a body on another thread (a pipeline fan-out
        worker); on the same thread nesting is tracked automatically."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        sid = next(self._ids)
        sp = Span(
            layer, sid, parent.sid if parent else None,
            f"perfbench-r{self._run}-s{sid}", 0.0,
        )
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(sp.group, layer)
        stack.append(sp)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(sp)

    def collect(self) -> None:
        """Attach job and stage figures to every span of the run."""
        if not self.enabled or not self.spans:
            return
        if self._mapper is None:
            self._mapper = _json_mapper(self.spark.sparkContext._jvm)
        jobs, stages = read_status_store(self.spark, self._mapper)
        by_group: dict[str, list] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        # a stage listed by several jobs (a reused shuffle shows as
        # skipped in later jobs) belongs to the first job that lists it
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j["stageIds"]:
                owner.setdefault(s, j["jobId"])
        stage_by_id = {s["stageId"]: s for s in stages}
        for sp in self.spans:
            sp.jobs = []
            for j in by_group.get(sp.group, []):
                own = [
                    stage_by_id[s]
                    for s in j["stageIds"]
                    if owner[s] == j["jobId"] and s in stage_by_id
                ]
                sums = {
                    out: sum(st.get(k) or 0 for st in own)
                    for k, out in _STAGE_SUMS.items()
                }
                sums["t0"] = (j.get("submissionTime") or 0) / 1000.0
                sums["t1"] = (j.get("completionTime") or 0) / 1000.0
                sp.jobs.append(sums)


def _json_mapper(jvm):
    """Jackson with the Scala module: serialises the status store's
    REST-API classes (Scala Options and Seqs) to plain JSON."""
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        jvm, "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
    ).__getattr__("MODULE$")
    mapper.registerModule(scala_module)
    return mapper


def read_status_store(spark, mapper) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) as the status store's REST-API JSON: two py4j
    calls however many jobs ran, instead of several per job."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)
        )
    )
    return jobs, stages


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{layer: {metric: value}}: job figures summed over the layer's
    spans and every span nested in them; ``wall_s`` sums the layer's own
    span walls, so concurrent spans (fan-out workers) add up."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    def subtree(sp: Span):
        yield sp
        for c in children.get(sp.sid, []):
            yield from subtree(c)

    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        m = out.setdefault(sp.layer, {k: 0.0 for k in JOB_METRICS})
        jobs = [j for s in subtree(sp) for j in s.jobs]
        wall = sp.t1 - sp.t0
        m["wall_s"] += wall
        m["driver_gap_s"] += wall - _covered(
            [(j["t0"], j["t1"]) for j in jobs], sp.t0, sp.t1
        )
        m["jobs"] += len(jobs)
        m["tasks"] += sum(j["tasks"] for j in jobs)
        m["cpu_s"] += sum(j["cpu_ns"] for j in jobs) / 1e9
        m["shuffle_mb"] += sum(j["shuffle_read_b"] + j["shuffle_write_b"] for j in jobs) / MB
        m["spill_mb"] += sum(j["spill_mem_b"] + j["spill_disk_b"] for j in jobs) / MB
        for k, v in sp.counters.items():
            m[k] = m.get(k, 0.0) + v
    return out
