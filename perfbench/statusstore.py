"""Spark's own counters, read from the application's status store after
the timer stops. The store is live with ``spark.ui.enabled=false``."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_counters(spark, group: str) -> dict:
    """Jobs, tasks, executor time, shuffle and spill of every job run
    under job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    stages = set()
    for jid in job_ids(spark, group):
        info = sc.statusTracker().getJobInfo(jid)
        out["jobs"] += 1
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
