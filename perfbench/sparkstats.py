"""Shuffle, spill and task-skew figures read from Spark's own status store.

The store (``SparkContext.statusStore``) is filled whether or not the UI
runs, so these reads need no UI and no extra dependency.
"""

from __future__ import annotations

import statistics


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _stages(spark) -> list:
    gw = spark.sparkContext._gateway
    seq = _store(spark).stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.size())]


def stage_keys(spark) -> set[tuple[int, int]]:
    return {(s.stageId(), s.attemptId()) for s in _stages(spark)}


def _task_run_ms(spark, stage) -> list[int]:
    tasks = _store(spark).taskList(stage.stageId(), stage.attemptId(), 1_000_000)
    out = []
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            out.append(m.get().executorRunTime())
    return out


def exchange_stats(spark, before: set[tuple[int, int]]) -> dict:
    """Totals over the stages that ran since ``before`` was taken:
    shuffle bytes written, bytes spilled (memory + disk), and the
    max/median task run time of the stage that ran longest."""
    new = [s for s in _stages(spark)
           if (s.stageId(), s.attemptId()) not in before and s.numTasks() > 0]
    shuffle = sum(s.shuffleWriteBytes() for s in new)
    spill = sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in new)
    skew = 1.0
    multi = [s for s in new if s.numTasks() > 1]
    if multi:
        longest = max(multi, key=lambda s: s.executorRunTime())
        runs = _task_run_ms(spark, longest)
        med = statistics.median(runs) if runs else 0
        if med > 0:
            skew = max(runs) / med
    return {"shuffle_bytes": shuffle, "spill_bytes": spill,
            "task_time_skew": skew, "stages": len(new)}
