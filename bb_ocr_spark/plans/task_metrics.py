"""Per-task wall time for lineage rows, from Spark's own status store.

The application status store (behind the Spark UI and `statusTracker`,
kept with the UI disabled) already holds every task's duration. A job
group scopes the lookup to one action; nothing is registered on the
listener bus, so nothing outlives the call.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

# the thread-local properties SparkContext.setJobGroup sets
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@contextmanager
def per_task_durations(spark: SparkSession, group: str):
    """Context manager: run exactly ONE action inside, under job group
    `group`. After the block, the yielded dict maps partition index ->
    task ms for the result stage of the group's LAST job, which is the
    action's write stage (AQE and broadcasts add earlier jobs). Of
    duplicate attempts (retry, speculation) the first success wins. The
    caller's own job group, if any, is restored afterwards."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(group, f"task-timed job group {group}")
    out: dict[int, int] = {}
    try:
        yield out
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)  # status store is fed async
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if not jobs:
            return
        stage = max(sc.statusTracker().getJobInfo(max(jobs)).stageIds)
        store = jsc.statusStore()
        attempt = store.lastStageAttempt(stage).attemptId()
        tasks = store.taskList(stage, attempt, 2**31 - 1)  # by task id
        for i in range(tasks.size()):
            t = tasks.apply(i)
            if t.status() == "SUCCESS" and t.index() not in out:
                out[t.index()] = int(t.duration().get())
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
