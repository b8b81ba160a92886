"""Count the Spark jobs a block of code submits, and list persisted RDDs.

Job ids are sequential per SparkContext, so the number of jobs a block
submitted is the delta of the highest job id the status tracker reports
before and after it. The tracker is fed by the listener bus, which is
drained first so that every submitted job is visible.
"""

from __future__ import annotations

import contextlib


def last_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


@contextlib.contextmanager
def count_jobs(spark):
    """``with count_jobs(spark) as jobs: ...`` leaves the count in
    ``jobs["n"]``."""
    jobs = {"n": None}
    before = last_job_id(spark)
    yield jobs
    jobs["n"] = last_job_id(spark) - before


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the SparkContext holds persisted: every cached
    DataFrame's column buffers and every local checkpoint's blocks."""
    jids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in jids}
