"""``utils.task_time.group_task_run_s`` reads summed task run time, not
wall-clock: N parallel sleeping tasks read at least N x the sleep."""

from __future__ import annotations

import time

from local_stream_stack_spark.utils.task_time import group_task_run_s


def test_sleep_job_reads_every_task(spark):
    sc = spark.sparkContext
    n, sleep_s = sc.defaultParallelism, 1.0
    # start the Python workers first, so the timed job's wall time is
    # ~one sleep and a wall-clock reading would fall short of n x sleep
    sc.parallelize(range(n), n).foreach(lambda _: None)
    sc.setJobGroup("task-time-sleep", "sleep job")
    try:
        sc.parallelize(range(n), n).foreach(lambda _: time.sleep(sleep_s))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert group_task_run_s(spark, "task-time-sleep") >= n * sleep_s


def test_group_without_jobs_reads_zero(spark):
    assert group_task_run_s(spark, "task-time-no-such-group") == 0.0
