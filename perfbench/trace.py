"""Traced runs: per-stage spans around calls into the library and Spark
task counters per job group.

``TracingStore`` is a ``ParquetCheckpointStore`` handed to
``run_pipeline(store=...)``. For every stage it

- sets a Spark job group named after the stage, so every job the stage
  starts (eager driver work and the parquet write) carries its name;
- times ``compute()`` (the eager driver work the stage does while
  building its plan: verify dispatch counts and collects, the union-find
  collect) apart from the store write, and the write apart from the
  re-read of the committed snapshot.

``group_counters`` then reads the per-job-group task metrics from the
in-process status store (``jobsList`` + ``lastStageAttempt``), which is
kept with the UI disabled.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore

# per-group Spark counters, in report order: name -> unit
COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}


@dataclass
class Span:
    name: str
    compute_s: float = 0.0
    write_s: float = 0.0
    read_s: float = 0.0
    rows: int = 0
    plan: str = ""

    @property
    def wall_s(self) -> float:
        return self.compute_s + self.write_s + self.read_s


@dataclass
class Tracer:
    sc: object
    spans: dict[str, Span] = field(default_factory=dict)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def clear(self) -> None:
        self.sc.setJobGroup("untraced", "untraced")


class TracingStore(ParquetCheckpointStore):
    def __init__(self, root: str, config_hash: str, tracer: Tracer):
        super().__init__(root, config_hash)
        self.tracer = tracer
        self._span: Span | None = None

    def get_or_compute(self, spark, stage, compute):
        if self.has(stage):
            return super().get_or_compute(spark, stage, compute)
        span = self._span = self.tracer.spans.setdefault(stage, Span(stage))
        self.tracer.group(stage)
        try:
            t0 = time.perf_counter()
            df = compute()
            span.compute_s = time.perf_counter() - t0
            span.plan = df._jdf.queryExecution().optimizedPlan().toString()
            t0 = time.perf_counter()
            out, res = self.write(spark, stage, df)
            # write() ends by re-reading the snapshot; read() booked its time
            span.write_s = time.perf_counter() - t0 - span.read_s
            span.rows = res.rows
            return out, res
        finally:
            self._span = None
            self.tracer.clear()

    def read(self, spark, stage):
        t0 = time.perf_counter()
        try:
            return super().read(spark, stage)
        finally:
            if self._span is not None:
                self._span.read_s += time.perf_counter() - t0


def verify_strategy(plan: str) -> int:
    """Which verify path the dispatch built, read off the edges plan:
    1 = broadcast scoring (mapInPandas over a broadcast slice, no join),
    2 = broadcast prefix prefilter then a join for the exact pass,
    3 = join for both passes."""
    broadcast = "MapInPandas" in plan
    joined = "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    if broadcast and not joined:
        return 1
    return 2 if broadcast else 3


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def group_counters(sc, after_job: int, groups) -> dict[str, dict[str, float]]:
    """Sum task metrics of every job newer than ``after_job`` per job
    group. A stage shared by several jobs (a reused shuffle) counts once;
    skipped stages have no attempt and count nothing."""
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus: drain it first
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    # result_mb: task results sent back to the driver (collects)
    out = {g: dict.fromkeys([*COUNTERS, "result_mb"], 0.0) for g in groups}
    seen: set[int] = set()
    jobs = store.jobsList(sc._jvm.java.util.ArrayList())
    for k in range(jobs.size()):
        job = jobs.apply(k)
        if job.jobId() <= after_job:
            continue
        grp = _opt(job.jobGroup())
        if grp not in out:
            continue
        acc = out[grp]
        acc["jobs"] += 1
        ids = job.stageIds()
        for s in range(ids.size()):
            sid = ids.apply(s)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: never attempted (skipped) stage
                continue
            acc["stages"] += 1
            acc["tasks"] += st.numTasks()
            acc["executor_run_s"] += st.executorRunTime() / 1e3
            acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
            acc["gc_s"] += st.jvmGcTime() / 1e3
            acc["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            acc["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            acc["spill_mb"] += st.diskBytesSpilled() / 1e6
            acc["result_mb"] += st.resultSize() / 1e6
    return out


def last_job_id(sc) -> int:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return max((jobs.apply(k).jobId() for k in range(jobs.size())), default=-1)
