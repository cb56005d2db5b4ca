"""Task run time of one job group, read from Spark's status store.

Stage ``executorRunTime`` is the summed wall time of a stage's tasks,
so an N-task stage that runs fully in parallel reads ~N x its wall
time: the parallelism signal a wall-clock cannot carry. Executor
``totalDuration`` is not a substitute: in local mode it advances with
wall-clock time even while the executor is idle.
"""

from __future__ import annotations

import time

_DONE = {"COMPLETE", "SKIPPED", "FAILED"}


def group_task_run_s(spark, group: str, wait_s: float = 5.0) -> float | None:
    """Summed stage ``executorRunTime`` (seconds, all attempts) of the
    jobs launched under ``setJobGroup(group)``; None when the job or
    stage records cannot be read.

    Stage completion reaches the status store on the listener bus, so a
    stage can still read as active just after its job returned: poll
    until every stage is done or ``wait_s`` has passed."""
    sc = spark.sparkContext
    try:
        tracker = sc.statusTracker()
        stage_ids = set()
        for j in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(j)
            if info is None:
                return None
            stage_ids.update(info.stageIds)
    except Exception:
        return None
    try:
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        no_status = gw.jvm.java.util.Collections.emptyList()
        deadline = time.monotonic() + wait_s
        while True:
            run_ms, pending = 0, False
            for sid in stage_ids:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    run_ms += s.executorRunTime()
                    pending |= s.status().toString() not in _DONE
            if not pending or time.monotonic() > deadline:
                return run_ms / 1000.0
            time.sleep(0.05)
    except Exception:
        return None
