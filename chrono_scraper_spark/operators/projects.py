"""Project↔page association operators (SURVEY §2.3 D9, §2.7 J5/J6).

The reference's shared-pages architecture links projects to already-crawled
pages instead of re-fetching: a many-to-many ``project_pages`` junction
(UNIQUE (project_id, page_id), shared_pages.py:156-207), prefix-based
cross-project reuse (firecrawl_scraping.py:320-427), and the search-document
build that aggregates per-page project context
(shared_pages_meilisearch.py:26-111).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROJECT_PAGES_KEY = ["project_id", "url_canon", "ts14"]


def link_pages_to_project(pages_out: DataFrame, project_pages: DataFrame,
                          project_id: int) -> DataFrame:
    """D5 'to_link' branch: associate existing pages with a project —
    idempotent left-anti + union (ON CONFLICT (project_id, page_id) DO
    NOTHING, shared_pages.py:160)."""
    links = pages_out.select(
        F.lit(project_id).alias("project_id"), "url_canon", "ts14")
    fresh = links.join(project_pages.select(*PROJECT_PAGES_KEY),
                       PROJECT_PAGES_KEY, "left_anti")
    return project_pages.unionByName(fresh.dropDuplicates(PROJECT_PAGES_KEY),
                                     allowMissingColumns=True)


def reuse_pages_for_prefix(pages_out: DataFrame, project_pages: DataFrame,
                           project_id: int, url_prefix: str) -> DataFrame:
    """D9: when discovery yields nothing for a URL-prefix target, clone
    matching pages crawled by OTHER projects into this project
    (firecrawl_scraping.py:320-427: ``LIKE '{prefix}%'``). The prefix filter
    is sargable (startswith ⇒ range pruning on a url-sorted table)."""
    candidates = pages_out.filter(F.col("url").startswith(url_prefix))
    return link_pages_to_project(candidates, project_pages, project_id)


def build_shared_docs(pages_out: DataFrame,
                      project_pages: DataFrame) -> DataFrame:
    """J6: the search-document projection with per-page project context —
    ``groupBy(page).agg(collect_set(project_id))`` then join
    (shared_pages_meilisearch.py:29-72). One shuffle on the page key."""
    ctx = project_pages.groupBy("url_canon", "ts14").agg(
        F.array_sort(F.collect_set("project_id")).alias("project_ids"),
        F.countDistinct("project_id").alias("project_count"))
    return (pages_out.join(ctx, ["url_canon", "ts14"], "left")
            .withColumn("project_ids",
                        F.coalesce(F.col("project_ids"),
                                   F.array().cast("array<int>")))
            .withColumn("project_count",
                        F.coalesce(F.col("project_count"), F.lit(0)))
            .withColumn("is_shared", F.col("project_count") >= 2))


def project_efficiency(pages: DataFrame) -> DataFrame:
    """Per-project deduplication-efficiency rollup
    (enhanced_project_creation.py:382-427).

    ProcessingStats derive from the corpus: a capture is *linked*
    (reused, not re-fetched) when its digest also exists under another
    project — the cross-project shared-content case the service's
    deduplication pass detects (:233-380); captures with a non-200
    status among the rest are *already processing*; the remainder is
    *to scrape*. Projects are the planted host→project mapping the
    dashboard family uses (operators/dashboard.py host_project).

    The reference's round(x, 2) percentages are exact milli floors:
    scraping_reduction = linked/(linked+to_scrape), time saved =
    linked·10 s in milli-hours (:395-398), overall efficiency =
    linked/total with the High/Medium/Low (>50/>20) and
    Excellent/Good/Standard (>60/>30) bands (:425-427).

    Scale shape: one digest-keyed aggregation (distinct projects per
    digest), a broadcast-back join, then a project-sized rollup.
    """
    from chrono_scraper_spark.operators.dashboard import _floor_div, host_project

    tagged = pages.withColumn("project", host_project(F.col("host")))
    share = tagged.groupBy("digest").agg(
        F.countDistinct("project").alias("_nproj"))
    d = tagged.join(share, "digest")
    per = d.groupBy("project").agg(
        F.count(F.lit(1)).cast("long").alias("total_pages_discovered"),
        F.sum(F.when(F.col("_nproj") >= 2, 1).otherwise(0))
        .cast("long").alias("pages_linked"),
        F.sum(F.when((F.col("_nproj") < 2) & (F.col("status") != 200), 1)
              .otherwise(0)).cast("long")
        .alias("pages_already_processing"),
    ).withColumn(
        "pages_to_scrape",
        (F.col("total_pages_discovered") - F.col("pages_linked")
         - F.col("pages_already_processing")).cast("long"))
    would = F.col("pages_linked") + F.col("pages_to_scrape")
    reduction = F.when(
        would > 0,
        _floor_div(F.col("pages_linked") * 100_000, would)
    ).otherwise(F.lit(0)).cast("long")
    eff = _floor_div(F.col("pages_linked") * 100_000,
                     F.greatest(F.col("total_pages_discovered"),
                                F.lit(1)))
    return per.select(
        "project", "total_pages_discovered", "pages_linked",
        "pages_already_processing", "pages_to_scrape",
        reduction.alias("scraping_reduction_milli"),
        _floor_div(F.col("pages_linked") * 10_000, F.lit(3_600))
        .alias("time_saved_milli_hours"),
        eff.alias("overall_efficiency_milli"),
        F.when(eff > 50_000, "High").when(eff > 20_000, "Medium")
        .otherwise("Low").alias("sharing_potential"),
        F.when(eff > 60_000, "Excellent").when(eff > 30_000, "Good")
        .otherwise("Standard").alias("resource_optimization_level"),
    )
