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
