"""Count the Spark jobs a block of code submits."""

import uuid
from contextlib import contextmanager


@contextmanager
def submitted_jobs(spark):
    """Run the block under a fresh job group; yields a callable that
    lists the ids of the jobs submitted in the group so far (after
    the listener bus has delivered their start events)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:12]}"

    def jobs() -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "jobs under test")
    try:
        yield jobs
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
