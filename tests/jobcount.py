"""Count the Spark work a call launches: shared by the job-count pins."""

from __future__ import annotations

import uuid


def jobs_and_tasks(spark, fn):
    """(jobs, tasks run) of the Spark work ``fn`` launches, counted
    through a job group and the status tracker."""
    sc = spark.sparkContext
    group = f"job-count-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    tasks = sum(info.numCompletedTasks for info in map(st.getStageInfo, stages)
                if info is not None)
    return len(jobs), tasks


def jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches."""
    return jobs_and_tasks(spark, fn)[0]
