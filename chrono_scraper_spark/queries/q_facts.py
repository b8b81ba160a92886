"""Content / project analytics facts.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.operators import analytics as A

from ._shared import _PRELUDE
from .q_analytics import _fact


def q_extraction_stats(spark, sf_dir):
    """content_analytics transform + extraction-method effectiveness rollup
    (content_analytics.sql:5-75; sample_queries.sql:110-123)."""
    fact = A.content_analytics_transform(cdx_pages_view(spark, sf_dir))
    return A.extraction_method_stats(fact)

SQL_EXTRACTION_STATS = _PRELUDE + f""",
fact AS (
  SELECT
    CASE WHEN mime = 'text/html' THEN 'article'
         ELSE 'unsupported_mime' END AS extraction_method,
    CASE WHEN mime = 'text/html'
              AND {OG.token_count_ws_sql('text')} > 0 THEN 'success'
         ELSE 'failed' END AS extraction_status,
    {OG.text_quality_sql('text')} AS content_quality_score,
    {OG.token_count_ws_sql('text')} AS word_count,
    {OG.token_count_ws_sql('text')} > 50 AS has_meaningful_content
  FROM pages_cdx
)
SELECT extraction_method, extraction_status,
  count(*) AS total_attempts,
  round(CAST(avg(CAST(content_quality_score AS DECIMAL(18,6))) AS DOUBLE), 3)
    AS avg_quality,
  round(avg(word_count), 1) AS avg_word_count,
  CAST(sum(CASE WHEN has_meaningful_content THEN 1 ELSE 0 END) AS BIGINT)
    AS meaningful_content_count
FROM fact GROUP BY 1, 2"""

def q_project_monthly(spark, sf_dir):
    """project_analytics monthly rollup (project_analytics.sql:5-40,
    sample_queries.sql:179-210): per (project, month) pages, successes,
    active domains, content-length average."""
    pages = cdx_pages_view(spark, sf_dir).withColumn(
        "project_id", (F.col("doc_id") % 7).cast("int"))
    return A.project_monthly_rollup(pages)

SQL_PROJECT_MONTHLY = _PRELUDE + """
SELECT CAST(doc_id % 7 AS INT) AS project_id,
  CAST(date_trunc('month', warc_ts) AS DATE) AS analytics_month,
  count(*) AS total_pages_processed,
  CAST(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
    AS success_pages,
  count(DISTINCT host) AS active_domains,
  round(avg(length(text)), 2) AS avg_content_length
FROM pages_cdx GROUP BY 1, 2"""

def q_cdx_facets(spark, sf_dir):
    """A10: multi-facet distribution over the analytics fact in one pass
    (Meilisearch facetDistribution over the whole index)."""
    return A.facet_distribution(
        _fact(spark, sf_dir),
        ["mime_type", "status_code", "content_size_category"])

SQL_CDX_FACETS = _PRELUDE + """
, fact AS (
  SELECT mime AS mime_type, CAST(status AS VARCHAR) AS status_code,
    CASE WHEN length < 1024 THEN 'tiny'
         WHEN length < 10240 THEN 'small'
         WHEN length < 102400 THEN 'medium'
         WHEN length < 1048576 THEN 'large'
         ELSE 'huge' END AS content_size_category
  FROM pages_cdx
)
SELECT 'mime_type' AS facet, mime_type AS value, count(*) AS n
FROM fact GROUP BY 2
UNION ALL
SELECT 'status_code' AS facet, status_code AS value, count(*) AS n
FROM fact GROUP BY 2
UNION ALL
SELECT 'content_size_category' AS facet, content_size_category AS value,
       count(*) AS n
FROM fact GROUP BY 2"""
