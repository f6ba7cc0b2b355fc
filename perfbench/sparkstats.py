"""Read executor metrics from the Spark status store, through py4j.

The store is filled by the listener bus whether or not the UI runs, so
these readers work on a session with ``spark.ui.enabled=false``. All
calls happen outside timed regions.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

MB = 2**20


@dataclass
class StageTotals:
    run_s: float = 0.0          # executor run time, summed over tasks
    cpu_s: float = 0.0          # executor JVM CPU time, summed over tasks
    shuffle_mb: float = 0.0     # shuffle bytes written
    spill_mb: float = 0.0       # memory + disk bytes spilled
    task_max_s: float = 0.0     # per stage: longest task, summed over stages
    task_median_s: float = 0.0  # per stage: median task, summed over stages

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    @property
    def task_skew(self) -> float:
        """How much longer the stages took than if every task ran for
        the median time: sum of longest tasks over sum of median tasks."""
        return self.task_max_s / self.task_median_s if self.task_median_s else 0.0


def next_stage_id(spark) -> int:
    """Stage ids are handed out in order; every stage that runs after
    this call gets an id at least this large."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextStageId())


def stage_totals(spark, stage_ids) -> StageTotals:
    """Totals over the given stages. Stages that never ran (skipped by
    adaptive execution or by reuse) are not in the store and add nothing."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    quantiles = spark.sparkContext._gateway.new_array(
        spark.sparkContext._gateway.jvm.double, 2
    )
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = StageTotals()
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        out.run_s += sd.executorRunTime() / 1e3
        out.cpu_s += sd.executorCpuTime() / 1e9
        out.shuffle_mb += sd.shuffleWriteBytes() / MB
        out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        summary = store.taskSummary(sid, sd.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            out.task_median_s += run.apply(0) / 1e3
            out.task_max_s += run.apply(1) / 1e3
    return out


def group_stage_ids(spark, group: str) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    ids: list[int] = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            ids.extend(info.stageIds)
    return ids


def udf_seconds(spark) -> float:
    """Total Python-UDF time recorded by ``spark.sql.pyspark.udf.profiler=perf``."""
    results = spark._profiler_collector._perf_profile_results
    return sum(stats.total_tt for stats in results.values())


def sql_execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


_SCAN_RE = re.compile(r"\(\d+\) Scan parquet[^\n]*\nOutput \[\d+\]: \[([^\]]*)\]")


def content_scans(spark, first_execution: int) -> int:
    """Parquet scans that read a ``content`` column, over the executed
    plans of the SQL executions listed from ``first_execution`` on."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = 0
    for e in _iter(store.executionsList(first_execution, 1 << 20)):
        plan = e.physicalPlanDescription() or ""
        n += sum(1 for cols in _SCAN_RE.findall(plan) if re.search(r"\bcontent#", cols))
    return n


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
