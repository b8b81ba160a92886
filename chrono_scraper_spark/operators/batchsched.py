"""Batch-job scheduling: requirement estimation, queue order, capacity.

Reference: ``backend/app/services/batch_scheduler.py`` —
``schedule_job`` (:246-294), default batch sizes per type
(``_get_default_batch_size`` :745-753 with the config.py:554-556
defaults), resource estimation (``_estimate_job_requirements``
:657-683: record-count-scaled memory/duration with clamps), the
record-count probes (:685-734: CDX = completed/failed/skipped pages,
content = completed pages with extracted text), the priority queue
order (``_sort_job_queue`` :736-738: priority desc, scheduled_at asc)
and the capacity gate (``SystemResources.has_capacity_for``
:120-132: memory <85%, available > 1.5× estimate, cpu <80%,
disk >1GB).

Planted determinism: one job per event — batch_type from event_type
(view → cdx_analytics, click → content_analytics, purchase →
project_analytics, signup/error → system_events), priority from
``event_id % 4`` (LOW 1 / NORMAL 5 / HIGH 10 / CRITICAL 20),
scheduled_at = the event timestamp. Record counts come from the CDX
corpus (CDX = all captures — every planted status is terminal;
content = status-200 captures with non-empty text). The queue sort
gets ``job_id`` as the final tie-break (the reference relies on
Python's stable sort over insertion order, which a distributed sort
cannot reproduce; job_id IS insertion order here). The capacity gate
uses a planted resource snapshot (the reference polls psutil).

Scale shape: one broadcast of the 2-value corpus counts onto the
per-event job projection; the queue order is one global sort (rank
over the job dimension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _floor_div(a: F.Column, b: F.Column) -> F.Column:
    """Exact long floor division (no double round-trip): Spark's ``div``
    truncates toward zero, so subtract the positive pmod first —
    ``(a - pmod(a, b)) div b`` == floor(a / b) for b > 0. NOTE:
    DuckDB's ``//`` truncates toward zero on negatives, so oracles for
    possibly-negative quotients must use ``floor(a * 1.0 / b)``."""
    a = a.cast("long")
    b = b.cast("long")
    return ((a - F.pmod(a, b)) / b).cast("long")


#: config.py:554-556 + :751
DEFAULT_SIZES = {"cdx_analytics": 50_000, "content_analytics": 25_000,
                 "project_analytics": 10_000, "system_events": 10_000}

#: planted SystemResources snapshot (:112-118) — chosen so both
#: capacity branches have rows: 85%-rule and cpu-rule pass, the
#: available-memory margin decides per job
RESOURCES = dict(cpu_percent=50, memory_percent=60,
                 memory_available_mb=750, disk_free_gb=10)

def _type_col() -> F.Column:
    # Columns are built lazily — module import must not need a JVM
    return (
        F.when(F.col("event_type") == "view", "cdx_analytics")
        .when(F.col("event_type") == "click", "content_analytics")
        .when(F.col("event_type") == "purchase", "project_analytics")
        .otherwise("system_events")
    )


def _priority_col() -> F.Column:
    return F.element_at(
        F.array(F.lit(1), F.lit(5), F.lit(10), F.lit(20)),
        (F.col("event_id") % 4 + 1).cast("int"))


def _counts(pages: DataFrame) -> DataFrame:
    empty = F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0
    return pages.agg(
        F.count(F.lit(1)).cast("long").alias("cdx_count"),
        F.sum(F.when((F.col("status") == 200) & ~empty, 1).otherwise(0))
        .cast("long").alias("content_count"),
    )


def plan_jobs(events: DataFrame, pages: DataFrame) -> DataFrame:
    """One scheduled job per event with default batch size and the
    estimated memory/duration (:657-683): cdx memory =
    clamp(records/1000, 256, 2048) MB, duration = max(records/10000,
    5) min; content = clamp(records/500, 512, 4096) /
    max(records/5000, 10); project 256/5; system 128/2.
    """
    sizes = F.when(F.lit(False), None)
    for t, s in DEFAULT_SIZES.items():
        sizes = sizes.when(F.col("batch_type") == t, F.lit(s))
    jobs = (
        events.select(
            F.col("event_id").alias("job_id"),
            _type_col().alias("batch_type"),
            _priority_col().cast("int").alias("priority"),
            F.col("ts").alias("scheduled_at"))
        .crossJoin(F.broadcast(_counts(pages)))
    )
    mem = (
        F.when(F.col("batch_type") == "cdx_analytics",
               F.least(F.greatest(_floor_div(F.col("cdx_count"),
                                             F.lit(1_000)),
                       F.lit(256).cast("long")), F.lit(2_048).cast("long")))
        .when(F.col("batch_type") == "content_analytics",
              F.least(F.greatest(_floor_div(F.col("content_count"),
                                            F.lit(500)),
                      F.lit(512).cast("long")), F.lit(4_096).cast("long")))
        .when(F.col("batch_type") == "project_analytics", F.lit(256))
        .otherwise(F.lit(128))
    )
    dur = (
        F.when(F.col("batch_type") == "cdx_analytics",
               F.greatest(_floor_div(F.col("cdx_count"), F.lit(10_000)),
                          F.lit(5).cast("long")))
        .when(F.col("batch_type") == "content_analytics",
              F.greatest(_floor_div(F.col("content_count"), F.lit(5_000)),
                         F.lit(10).cast("long")))
        .when(F.col("batch_type") == "project_analytics", F.lit(5))
        .otherwise(F.lit(2))
    )
    return jobs.select(
        "job_id", "batch_type", "priority", "scheduled_at",
        sizes.cast("int").alias("batch_size"),
        mem.cast("long").alias("estimated_memory_mb"),
        dur.cast("long").alias("estimated_duration_minutes"),
    )


def queue_order(events: DataFrame, pages: DataFrame) -> DataFrame:
    """Queue positions (:736-738): priority desc, scheduled_at asc,
    job_id as the stable-sort tie-break.

    Round 6: the unpartitioned ``row_number()`` window (every job sorted in
    ONE task; the queue is corpus-derived so it scales with input) is
    replaced by the repo's two-phase prefix-sum shape
    (``politeness.with_global_seq``): range exchange + per-partition offsets
    — same positions, no single-task sort."""
    from .politeness import with_global_seq

    jobs = plan_jobs(events, pages).select(
        "job_id", "batch_type", "priority", "scheduled_at")
    keyed = jobs.withColumn(
        "__ok", F.struct((-F.col("priority")).alias("a"),
                         F.col("scheduled_at").alias("b"),
                         F.col("job_id").alias("c")))
    return (with_global_seq(keyed, "__ok", "position")
            .select("job_id", "batch_type", "priority", "scheduled_at",
                    F.col("position").cast("int").alias("position")))


def capacity_check(events: DataFrame, pages: DataFrame) -> DataFrame:
    """``has_capacity_for`` per job (:120-132) under the planted
    resource snapshot; the 1.5× margin is exact (est·3/2)."""
    jobs = plan_jobs(events, pages)
    r = RESOURCES
    fits = (
        F.lit(r["memory_percent"] < 85)
        & (F.lit(r["memory_available_mb"])
           > _floor_div(F.col("estimated_memory_mb") * 3, F.lit(2)))
        & F.lit(r["cpu_percent"] < 80)
        & F.lit(r["disk_free_gb"] > 1)
    )
    return jobs.select(
        "job_id", "batch_type", "estimated_memory_mb",
        fits.alias("has_capacity"),
    )
