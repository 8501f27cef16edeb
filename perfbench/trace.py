"""Tracing for the benchmark: spans, Spark's status counters, peak RSS.

Spans are recorded by the benchmark's own code around each call into the
package; nothing inside ``lakehouse_architecture_spark`` is instrumented.
They are kept in memory and written as JSONL when the run ends.

Spark counters come from two in-process sources that work with the UI off:

* ``SparkContext.statusTracker()`` — the job ids of one job group (each
  traced call runs under its own group);
* the driver's ``AppStatusStore`` read through py4j — per-job stage ids
  and skipped-stage counts, and per-stage task counts, executor run and CPU
  time, input, shuffle and spill bytes.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage counters summed per traced call; names are the per-layer metric
#: suffixes (``spark.<name>``).
COUNTER_NAMES = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

_MB = 1024.0 * 1024.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` (``VmHWM`` in /proc), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Python driver plus the driver JVM it launched."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


def wait_for_listener_bus(spark) -> None:
    """Block until the driver's listener bus has delivered every event, so
    the status store holds the final numbers of jobs that just ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_counters(spark, group: str) -> dict[str, float]:
    """Summed stage counters over every job run under job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTER_NAMES, 0.0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        out["stages_skipped"] += job.numSkippedStages()
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            stage = store.lastStageAttempt(stage_ids.apply(i))
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["tasks_failed"] += stage.numFailedTasks()
            out["executor_run_s"] += stage.executorRunTime() / 1e3
            out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
            out["input_mb"] += stage.inputBytes() / _MB
            out["shuffle_read_mb"] += stage.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += stage.shuffleWriteBytes() / _MB
            out["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / _MB
    return out


def peak_execution_mb(spark) -> float:
    """The most execution memory (hash tables, sort and aggregation
    buffers) any one stage of the current application used, summed over
    the stage's tasks: Spark's own ``peakExecutionMemory`` accounting.
    Memory is granted in whole pages (``spark.buffer.pageSize``, 64 MB
    with an 8 GB driver), so on small inputs this reads the widest stage's
    task count times one page rather than anything data-sized."""
    sc = spark.sparkContext
    wait_for_listener_bus(spark)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None)
    peak = max((stages.apply(i).peakExecutionMemory() for i in range(stages.size())), default=0)
    return peak / _MB


def cached_table_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks (Spark's storage info)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    #: tracing time spent while the span was open, its own bookkeeping
    #: and that of the spans inside it included
    overhead: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields, so the
    untraced run pays one generator per call and reads no counters."""

    def __init__(self, spark_getter, enabled: bool, run_id: str) -> None:
        self._spark = spark_getter
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._groups = itertools.count(1)
        #: seconds spent reading counters and keeping spans
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, spark_group: bool = False, **attrs):
        """Record ``name`` around the block. With ``spark_group`` the block
        runs under its own Spark job group and the span gets the summed
        stage counters of that group's jobs."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        before = self.overhead_s
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(next(self._ids), name, parent, 0.0, attrs=dict(attrs))
        group = None
        if spark_group:
            # spans with a job group do not nest, so there is no outer
            # group to restore afterwards
            group = f"{self.run_id}-{next(self._groups)}"
            self._spark().sparkContext.setJobGroup(group, name)
        self._stack.append(sp)
        self.spans.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                spark = self._spark()
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                spark.sparkContext.setLocalProperty("spark.job.description", None)
                wait_for_listener_bus(spark)
                sp.attrs.update(job_counters(spark, group))
            self.overhead_s += time.perf_counter() - sp.end
            sp.overhead = self.overhead_s - before

    @contextmanager
    def bookkeeping(self):
        """Count the block's time as tracing overhead: work a traced run
        does that an untraced one does not."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def counters_for_group(self, group: str) -> dict[str, float]:
        """Counters of a job group the benchmark did not set (a streaming
        query runs its batches under its own group, the query's run id)."""
        with self.bookkeeping():
            spark = self._spark()
            wait_for_listener_bus(spark)
            return job_counters(spark, group)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part covered by its direct children."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.span_id
        )
        covered, reach = 0.0, sp.start
        for a, b in kids:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return (sp.end - sp.start) - covered

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "span_id": s.span_id,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "self_s": self.self_time(s),
                            "overhead_s": s.overhead,
                            **s.attrs,
                        },
                        sort_keys=True,
                    )
                    + "\n"
                )
