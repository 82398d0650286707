"""Spans around calls into the engine, with their Spark jobs as children.

Every call the benchmark makes into a public engine function runs inside
a Spark job group of its own. After the timed pass the group's jobs are
read back from ``statusTracker()`` and the JVM status store (job
submission/completion times, and per stage the task count, executor CPU,
rows scanned, shuffle and output bytes). The store keeps working with
``spark.ui.enabled=false``. Spans stay in memory; when the run ends the
benchmark sums them per layer and writes them out.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

LAYER_FIELDS = (
    "wall_s",
    "jobs",
    "tasks",
    "job_busy_s",
    "driver_s",
    "executor_cpu_s",
    "scan_rows",
    "shuffle_bytes",
    "output_bytes",
)


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    tasks: int = 0
    executor_cpu_s: float = 0.0
    scan_rows: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Span:
    """One call into a layer. ``pass_id`` is shared by the spans of one pass."""

    pass_id: str
    layer: str
    name: str
    group: str
    start: float  # epoch seconds
    end: float = 0.0
    jobs: list[Job] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def job_busy_s(self) -> float:
        return union_length(
            (max(j.start, self.start), min(j.end, self.end)) for j in self.jobs
        )


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Wraps calls in job groups when ``enabled``; otherwise does nothing.

    ``span()`` yields the open :class:`Span`; its jobs are attached by
    :meth:`harvest`, which runs after each timed pass, while the status
    store still holds the pass's jobs and stages.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping inside timed passes
        self._seq = 0

    @contextmanager
    def span(self, pass_id: str, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{pass_id}-{self._seq}"
        self.sc.setJobGroup(group, f"{layer}.{name}")
        sp = Span(pass_id, layer, name, group, time.time())
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t_out

    def harvest(self) -> None:
        """Attach each span's Spark jobs (read from the status store)."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.jobs:
                continue
            for job_id in sorted(tracker.getJobIdsForGroup(sp.group)):
                job = _read_job(store, job_id)
                if job is not None:
                    sp.jobs.append(job)


    def dump(self, path: str) -> None:
        """Write every span, its jobs nested, as one JSON object per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def _read_job(store, job_id: int) -> Job | None:
    jd = store.job(job_id)
    sub, comp = jd.submissionTime(), jd.completionTime()
    if not (sub.isDefined() and comp.isDefined()):
        return None
    job = Job(job_id, sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
    stage_ids = jd.stageIds()
    for k in range(stage_ids.size()):
        try:
            sd = store.lastStageAttempt(stage_ids.apply(k))
        except Py4JJavaError:  # evicted past spark.ui.retainedStages
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        job.tasks += sd.numCompleteTasks()
        job.executor_cpu_s += sd.executorCpuTime() / 1e9
        # rows, not inputBytes: Spark's local parquet scans count only the
        # footer reads in inputBytes
        job.scan_rows += sd.inputRecords()
        job.shuffle_bytes += sd.shuffleWriteBytes()
        job.output_bytes += sd.outputBytes()
    return job


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer, each :data:`LAYER_FIELDS` metric summed over all of the
    layer's spans and jobs. ``job_busy_s`` is the union of the job
    intervals inside each span."""
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(LAYER_FIELDS, 0.0))
    for sp in spans:
        a = acc[sp.layer]
        busy = sp.job_busy_s
        a["wall_s"] += sp.wall_s
        a["job_busy_s"] += busy
        a["driver_s"] += sp.wall_s - busy
        a["jobs"] += len(sp.jobs)
        for j in sp.jobs:
            a["tasks"] += j.tasks
            a["executor_cpu_s"] += j.executor_cpu_s
            a["scan_rows"] += j.scan_rows
            a["shuffle_bytes"] += j.shuffle_bytes
            a["output_bytes"] += j.output_bytes
    return {layer: dict(a) for layer, a in acc.items()}
