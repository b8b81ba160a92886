"""Executive-dashboard rollups: the reference's admin metrics service.

Reference: ``backend/app/services/dashboard_metrics.py`` —
``get_executive_summary`` (:27-103) composes user metrics (:176-222),
content metrics (:224-283), 7-day activity trends (:362-385), 24h-vs-24h
growth rates (:412-452) and top domains/projects (:692-738). The
service-health / Celery halves (:283-361, :388-410) are live-process
introspection with no data analog and stay out of charter.

Determinism conventions shared with the other service families:

* "now" is the max timestamp present in the input (no wall clock), so
  the same corpus always yields the same 24h/7d windows;
* rates are integer milli-units (``activity_rate_milli`` = rate·1000
  as an exact floor) instead of the reference's ``round(x, 2)`` floats,
  keeping the driver's value-hash stable across engines;
* planted user attributes follow user_analytics.py:
  verified ⇔ ``user_id % 2 = 0``,
  approved ⇔ ``user_id % 3 <> 0``.

Scale shape: every metric is a map-side-combinable hash aggregation
(single-row or day/host cardinality). Nothing shuffles the corpus more
than once and nothing collects rows to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: dashboard_metrics.py:176-181 / :224-229 window constants
DAY_S = 86_400
WEEK_S = 7 * DAY_S
#: dashboard_metrics.py:281 processing_rate divisor (pages per minute
#: over a 24h window = count / 1440 minutes, scaled ·100)
MINUTES_24H = 1440
TOP_N = 10


def _epoch(col: F.Column) -> F.Column:
    return F.unix_timestamp(col)


def _floor_div(a: F.Column, b: F.Column) -> F.Column:
    """Exact long floor division (no double round-trip): Spark's ``div``
    truncates toward zero, so subtract the positive pmod first —
    ``(a - pmod(a, b)) div b`` == floor(a / b) for b > 0. NOTE:
    DuckDB's ``//`` truncates toward zero on negatives, so oracles for
    possibly-negative quotients must use ``floor(a * 1.0 / b)``."""
    a = a.cast("long")
    b = b.cast("long")
    return ((a - F.pmod(a, b)) / b).cast("long")


def _word_count(text: F.Column) -> F.Column:
    """Whitespace word count; 0 for empty/NULL (PageV2.word_count analog)."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, " ")))


def content_metrics(pages: DataFrame) -> DataFrame:
    """Single-row content KPI rollup (dashboard_metrics.py:224-283).

    ``processed`` ⇔ ``status = 200`` (the extraction-eligible captures —
    the reference's ``PageV2.processed`` flag); ``processed_24h`` counts
    them in the 24h ending at the corpus max ``warc_ts``.
    ``avg_word_count`` is ``int(avg)`` (truncation, :278) replayed as an
    exact integer floor; ``processing_rate_milli`` is the reference's
    ``processed/1440*100`` per-minute percentage (:281) in milli-units.
    """
    wc = _word_count(F.col("text"))
    mx = pages.agg(F.max(_epoch(F.col("warc_ts"))).alias("now_s"))
    out = (
        pages.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).alias("total_pages"),
            F.sum(
                F.when(
                    (F.col("status") == 200)
                    & (_epoch(F.col("warc_ts")) >= F.col("now_s") - DAY_S),
                    1,
                ).otherwise(0)
            ).alias("processed_24h"),
            F.sum(wc).alias("total_words"),
        )
        .select(
            F.col("total_pages").cast("long").alias("total_pages"),
            F.col("processed_24h").cast("long").alias("processed_24h"),
            _floor_div(F.col("total_words"),
                       F.greatest(F.col("total_pages"), F.lit(1)))
            .alias("avg_word_count"),
            F.col("total_words").cast("long").alias("total_words"),
            _floor_div(F.col("processed_24h") * 100_000,
                       F.lit(MINUTES_24H))
            .alias("processing_rate_milli"),
        )
    )
    return out


def user_metrics(events: DataFrame) -> DataFrame:
    """Single-row user KPI rollup (dashboard_metrics.py:176-222).

    total / active-24h / new-7d / verified / approved user counts over
    the events table, with activity and verification rates in
    milli-units. "Active" means any event in the 24h ending at the max
    event ``ts``; "new" means the user's first event is within 7d of it.
    """
    per_user = events.groupBy("user_id").agg(
        F.max(_epoch(F.col("ts"))).alias("last_s"),
        F.min(_epoch(F.col("ts"))).alias("first_s"),
    )
    mx = per_user.agg(F.max("last_s").alias("now_s"))
    agg = (
        per_user.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).alias("total_users"),
            F.sum(
                F.when(F.col("last_s") >= F.col("now_s") - DAY_S, 1)
                .otherwise(0)
            ).alias("active_24h"),
            F.sum(
                F.when(F.col("first_s") >= F.col("now_s") - WEEK_S, 1)
                .otherwise(0)
            ).alias("new_7d"),
            F.sum(
                F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
            ).alias("verified_users"),
            F.sum(
                F.when(F.col("user_id") % 3 != 0, 1).otherwise(0)
            ).alias("approved_users"),
        )
    )
    return agg.select(
        F.col("total_users").cast("long").alias("total_users"),
        F.col("active_24h").cast("long").alias("active_24h"),
        F.col("new_7d").cast("long").alias("new_7d"),
        F.col("verified_users").cast("long").alias("verified_users"),
        F.col("approved_users").cast("long").alias("approved_users"),
        _floor_div(F.col("active_24h") * 100_000,
                   F.greatest(F.col("total_users"), F.lit(1)))
        .alias("activity_rate_milli"),
        _floor_div(F.col("verified_users") * 100_000,
                   F.greatest(F.col("total_users"), F.lit(1)))
        .alias("verification_rate_milli"),
    )


def activity_trends(events: DataFrame) -> DataFrame:
    """Daily activity counts for the trailing 7 days
    (dashboard_metrics.py:362-385): one row per calendar day ending at
    the max event date, plus the service's trend classification —
    'increasing' iff the last day's count exceeds the first day's,
    else 'stable' — repeated on every row (it is a scalar in the
    reference payload).
    """
    daily = events.groupBy(
        F.to_date(F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("events"))
    mx = daily.agg(F.max("day").alias("max_day"))
    recent = (
        daily.crossJoin(F.broadcast(mx))
        .filter(F.col("day") >= F.date_sub(F.col("max_day"), 6))
        .select("day", "events")
    )
    edges = recent.agg(
        F.min_by("events", "day").alias("first_events"),
        F.max_by("events", "day").alias("last_events"),
    )
    return (
        recent.crossJoin(F.broadcast(edges))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("date"),
            F.col("events").cast("long").alias("events"),
            F.when(F.col("last_events") > F.col("first_events"),
                   "increasing").otherwise("stable").alias("trend"),
        )
    )


def growth_rates(events: DataFrame, pages: DataFrame) -> DataFrame:
    """24h-vs-previous-24h growth (dashboard_metrics.py:412-452), one
    row: new users = ``signup`` events per window (ending at the max
    event ts), new content = captures per window (ending at the max
    ``warc_ts``); growth in milli-percent as an exact
    ``floor((cur - prev)·100000 / prev)``, 0 when the previous window
    is empty (:430, :446).
    """

    def _two_windows(df: DataFrame, ts_s: F.Column, flag: F.Column,
                     cur: str, prev: str) -> DataFrame:
        mx = df.agg(F.max(ts_s).alias("now_s"))
        return (
            df.crossJoin(F.broadcast(mx))
            .agg(
                F.sum(
                    F.when(flag & (ts_s >= F.col("now_s") - DAY_S), 1)
                    .otherwise(0)
                ).cast("long").alias(cur),
                F.sum(
                    F.when(
                        flag
                        & (ts_s >= F.col("now_s") - 2 * DAY_S)
                        & (ts_s < F.col("now_s") - DAY_S),
                        1,
                    ).otherwise(0)
                ).cast("long").alias(prev),
            )
        )

    def _growth(cur: str, prev: str, name: str) -> F.Column:
        return (
            F.when(F.col(prev) > 0,
                   _floor_div((F.col(cur) - F.col(prev)) * 100_000,
                              F.col(prev)))
            .otherwise(F.lit(0))
            .cast("long").alias(name)
        )

    u = _two_windows(events, _epoch(F.col("ts")),
                     F.col("event_type") == "signup",
                     "new_users_24h", "prev_users_24h")
    c = _two_windows(pages, _epoch(F.col("warc_ts")), F.lit(True),
                     "new_pages_24h", "prev_pages_24h")
    return u.crossJoin(c).select(
        "new_users_24h", "prev_users_24h",
        _growth("new_users_24h", "prev_users_24h", "user_growth_milli"),
        "new_pages_24h", "prev_pages_24h",
        _growth("new_pages_24h", "prev_pages_24h", "content_growth_milli"),
    )


def host_project(host: F.Column) -> F.Column:
    """Planted owning project of a host, derived from the host alone so
    Spark and the DuckDB oracle agree (the reference reads it from its
    Domain/Project rows)."""
    return (F.when(host.endswith(".edu"), "academic")
            .when(host.endswith(".gov"), "government")
            .otherwise("web"))


def top_domains_projects(pages: DataFrame) -> DataFrame:
    """Top-10 domains by page count and top-10 projects by activity
    (dashboard_metrics.py:692-738), one frame with a ``kind``
    discriminator. Projects are the planted host→project mapping
    (:func:`host_project`). Rank ties break on name ascending so the cut
    is deterministic.
    """
    from pyspark.sql.window import Window

    host_counts = pages.groupBy("host").agg(
        F.count(F.lit(1)).alias("page_count"))
    proj_counts = (
        host_counts
        .withColumn("project", host_project(F.col("host")))
        .groupBy("project")
        .agg(F.sum("page_count").alias("page_count"))
    )
    both = (
        host_counts.select(F.lit("domain").alias("kind"),
                           F.col("host").alias("name"), "page_count")
        .unionByName(
            proj_counts.select(F.lit("project").alias("kind"),
                               F.col("project").alias("name"),
                               "page_count"))
    )
    # Round 6: two-phase top-N (the politeness.schedule_round prune shape).
    # partitionBy("kind") is 2 partitions, so the plain window sorted every
    # host in one task; instead rows first rank within (kind, salt) and only
    # per-salt rank <= TOP_N survives to the exact per-kind window — any row
    # in the true top-N has per-salt rank <= its per-kind rank <= TOP_N, so
    # the survivor set provably contains the answer and the final ranks are
    # identical. The exact window sorts <= 32*TOP_N rows per kind.
    order = [F.desc("page_count"), F.asc("name")]
    salt = F.pmod(F.xxhash64("name"), F.lit(32)).cast("int")
    w_salt = Window.partitionBy("kind", salt).orderBy(*order)
    pruned = (both.withColumn("__pr", F.row_number().over(w_salt))
              .filter(F.col("__pr") <= TOP_N).drop("__pr"))
    w = Window.partitionBy("kind").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_N)
        .select("kind", "name",
                F.col("page_count").cast("long").alias("page_count"),
                F.col("rank").cast("int").alias("rank"))
    )
