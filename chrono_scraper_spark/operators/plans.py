"""User plan tiers, quota checks and usage accounting.

Reference: ``backend/app/services/plan_service.py`` +
``backend/app/models/plans.py`` — tier defaults
(``UserPlan.get_plan_defaults`` :88-149), queue priority
(``get_priority_level`` :151-158), project-quota check
(``can_create_project`` :160-164), the daily/concurrent rate gate
(``UserRateLimit.check_rate_limit`` :225-240 and
``PlanService.check_rate_limit`` :138-179 with the same precedence:
daily limit first, then concurrent jobs), timeout sync
(``sync_with_plan`` :206-220) and the 30-day usage rollup
(``get_usage_stats`` :243-300).

Planted determinism (so Spark and the DuckDB oracle agree):

* tier: ``user_id % 50 == 0`` → unlimited (the superuser path,
  plan_service.py:32), else ``user_id % 10`` → 9 lightning,
  6-8 flash, 0-5 spark;
* projects: the distinct planted project ids
  ``(event_id·13 + 7) mod 1000`` among ``purchase`` events
  (a planted convention);
* "today" = the global max event date; pages scraped today = the
  user's ``view`` events on that date × a planted burst factor
  (``BURST``) so the daily limit has rows on both sides; concurrent
  jobs = ``purchase`` events on that date;
* usage records: pages = ``view``, searches = ``click``,
  api_calls = ``error``, entities = ``purchase``; per-event scrape
  seconds = ``floor(value)``.

Rates are exact integer milli-units (floor). Scale shape: single
hash aggregations keyed by user / (user, day) — user cardinality ≪
events; the tier config is a literal CASE chain (zero-shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chrono_scraper_spark.operators.dashboard import _floor_div

#: UserPlan.get_plan_defaults (plans.py:88-149) + get_priority_level
#: (:151-158), keyed by tier; timeout pair per sync_with_plan (:212-217)
TIER_DEFAULTS = {
    "spark": dict(ppm=10, jobs=1, session=500, day=2500, projects=2,
                  priority=6, api=False, custom_timeout=False),
    "flash": dict(ppm=25, jobs=2, session=2000, day=10_000, projects=5,
                  priority=4, api=False, custom_timeout=False),
    "lightning": dict(ppm=75, jobs=5, session=10_000, day=50_000,
                      projects=15, priority=2, api=True,
                      custom_timeout=True),
    "unlimited": dict(ppm=200, jobs=10, session=100_000, day=1_000_000,
                      projects=100, priority=1, api=True,
                      custom_timeout=True),
}

#: planted synthetic load multiplier for the daily-limit gate (module
#: docstring) — small per-day event counts × BURST straddle the
#: spark/flash daily limits
BURST = 1_000

DAY_S = 86_400
USAGE_DAYS = 30


def tier_col(user_id: F.Column) -> F.Column:
    """Planted tier assignment (superuser check first,
    plan_service.py:32)."""
    return (
        F.when(user_id % 50 == 0, "unlimited")
        .when(user_id % 10 == 9, "lightning")
        .when(user_id % 10 >= 6, "flash")
        .otherwise("spark")
    )


def _tier_field(field: str, cast: str = "int") -> F.Column:
    c = F.when(F.lit(False), None)
    for tier, d in TIER_DEFAULTS.items():
        c = c.when(F.col("tier") == tier, F.lit(d[field]))
    return c.cast(cast)


def assign_plans(events: DataFrame) -> DataFrame:
    """One row per user: tier + every limit the plan carries
    (plans.py:88-158, timeouts per sync_with_plan :212-217)."""
    users = events.select("user_id").distinct()
    return (
        users.withColumn("tier", tier_col(F.col("user_id")))
        .select(
            "user_id", "tier",
            _tier_field("ppm").alias("max_pages_per_minute"),
            _tier_field("jobs").alias("max_concurrent_jobs"),
            _tier_field("session").alias("max_pages_per_session"),
            _tier_field("day").alias("max_pages_per_day"),
            _tier_field("projects").alias("max_projects"),
            _tier_field("priority").alias("priority_level"),
            _tier_field("api", "boolean").alias("api_access"),
            F.when(_tier_field("custom_timeout", "boolean"), 30)
            .otherwise(60).cast("int").alias("default_timeout_seconds"),
            F.when(_tier_field("custom_timeout", "boolean"), 300)
            .otherwise(120).cast("int").alias("max_timeout_seconds"),
        )
    )


def project_check(events: DataFrame) -> DataFrame:
    """``can_create_project`` per user (plans.py:160-164): current
    project count vs the tier's max_projects, with the reference's
    exact reason strings."""
    projects = events.groupBy("user_id").agg(
        F.count_distinct(
            F.when(F.col("event_type") == "purchase",
                   (F.col("event_id") * 13 + 7) % 1000)
        ).cast("long").alias("current_projects"))
    plans = assign_plans(events).select(
        "user_id", "tier", "max_projects")
    allowed = F.col("current_projects") < F.col("max_projects")
    return (
        plans.join(projects, "user_id")
        .select(
            "user_id", "tier", "current_projects",
            F.col("max_projects").cast("int").alias("max_projects"),
            allowed.alias("allowed"),
            F.when(allowed, F.lit("Can create project"))
            .otherwise(F.concat(F.lit("Plan limit: "),
                                F.col("max_projects").cast("string"),
                                F.lit(" projects maximum")))
            .alias("reason"),
        )
    )


def rate_check(events: DataFrame) -> DataFrame:
    """``check_rate_limit`` per user (plans.py:225-240 /
    plan_service.py:168-175): daily-limit gate first, then concurrent
    jobs, with the reference's exact reason strings. Today's load is
    planted from the max event date (module docstring)."""
    mx = events.agg(F.max(F.to_date("ts")).alias("today"))
    today = (
        events.crossJoin(F.broadcast(mx))
        .filter(F.to_date("ts") == F.col("today"))
        .groupBy("user_id")
        .agg(
            (F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
             * BURST).cast("long").alias("pages_scraped_today"),
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)).cast("long")
            .alias("current_concurrent_jobs"),
        )
    )
    plans = assign_plans(events).select(
        "user_id", "tier", "max_pages_per_day", "max_concurrent_jobs")
    j = plans.join(today, "user_id", "left").fillna(
        0, ["pages_scraped_today", "current_concurrent_jobs"])
    daily_hit = (F.col("pages_scraped_today")
                 >= F.col("max_pages_per_day"))
    conc_hit = (F.col("current_concurrent_jobs")
                >= F.col("max_concurrent_jobs"))
    return j.select(
        "user_id", "tier", "pages_scraped_today",
        F.col("max_pages_per_day").cast("long").alias("max_pages_per_day"),
        "current_concurrent_jobs",
        F.col("max_concurrent_jobs").cast("long")
        .alias("max_concurrent_jobs"),
        (~daily_hit & ~conc_hit).alias("allowed"),
        F.when(daily_hit,
               F.concat(F.lit("Daily limit reached: "),
                        F.col("max_pages_per_day").cast("string"),
                        F.lit(" pages")))
        .when(conc_hit,
              F.concat(F.lit("Concurrent job limit reached: "),
                       F.col("max_concurrent_jobs").cast("string")))
        .otherwise(F.lit("Within rate limits")).alias("reason"),
    )


def _usage_records(events: DataFrame) -> DataFrame:
    """Per (user, day) UserPlanUsage rows over the trailing 30 days
    (record_usage field mapping, plan_service.py:182-243)."""
    mx = events.agg(F.max(F.to_date("ts")).alias("max_day"))
    return (
        events.crossJoin(F.broadcast(mx))
        .filter(F.to_date("ts")
                >= F.date_sub(F.col("max_day"), USAGE_DAYS - 1))
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long").alias("pages_scraped"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long").alias("searches_performed"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long").alias("api_calls"),
            F.sum(F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0)).cast("long").alias("entities_extracted"),
            F.sum(F.when(F.col("event_type") == "view",
                         F.floor(F.col("value"))).otherwise(0))
            .cast("long").alias("scrape_time_s"),
        )
    )


def usage_breakdown(events: DataFrame) -> DataFrame:
    """Daily breakdown rows (plan_service.py:280-290): per (user, day)
    counters + that day's pages-per-minute in milli
    (``average_pages_per_minute`` :236-238)."""
    rec = _usage_records(events)
    return rec.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("date"),
        "pages_scraped", "searches_performed", "api_calls",
        "entities_extracted",
        F.when(F.col("scrape_time_s") > 0,
               _floor_div(F.col("pages_scraped") * 60_000,
                          F.col("scrape_time_s")))
        .otherwise(F.lit(0)).cast("long")
        .alias("avg_pages_per_minute_milli"),
    )


def usage_totals(events: DataFrame) -> DataFrame:
    """Per-user totals + performance metrics
    (plan_service.py:272-300): summed counters, overall
    pages-per-minute (milli), total scrape seconds."""
    rec = _usage_records(events)
    agg = rec.groupBy("user_id").agg(
        F.sum("pages_scraped").cast("long").alias("total_pages"),
        F.sum("searches_performed").cast("long").alias("total_searches"),
        F.sum("api_calls").cast("long").alias("total_api_calls"),
        F.sum("entities_extracted").cast("long").alias("total_entities"),
        F.sum("scrape_time_s").cast("long").alias("total_scrape_time_s"),
    )
    return agg.select(
        "user_id", "total_pages", "total_searches", "total_api_calls",
        "total_entities",
        F.when(F.col("total_scrape_time_s") > 0,
               _floor_div(F.col("total_pages") * 60_000,
                          F.col("total_scrape_time_s")))
        .otherwise(F.lit(0)).cast("long")
        .alias("avg_pages_per_minute_milli"),
        "total_scrape_time_s",
    )
