"""Analytics family: CDX rollups, daily stats, percentiles.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.operators import analytics as A

from ._shared import _PRELUDE


def q_cdx_analytics(spark, sf_dir):
    return A.cdx_analytics_transform(cdx_pages_view(spark, sf_dir)).select(
        "url", "capture_date", "capture_year", "capture_month",
        "capture_hour", "mime_type", "status_code", "content_length",
        "content_size_category", "success_indicator")

SQL_CDX_ANALYTICS = _PRELUDE + """
SELECT url,
  CAST(warc_ts AS DATE) AS capture_date,
  CAST(year(warc_ts) AS INT) AS capture_year,
  CAST(month(warc_ts) AS INT) AS capture_month,
  CAST(hour(warc_ts) AS INT) AS capture_hour,
  mime AS mime_type, status AS status_code, length AS content_length,
  CASE WHEN length < 1024 THEN 'tiny'
       WHEN length < 10240 THEN 'small'
       WHEN length < 102400 THEN 'medium'
       WHEN length < 1048576 THEN 'large'
       ELSE 'huge' END AS content_size_category,
  CAST(status = 200 AS INT) AS success_indicator
FROM pages_cdx"""

def _fact(spark, sf_dir):
    return A.cdx_analytics_transform(cdx_pages_view(spark, sf_dir))

def q_daily_stats(spark, sf_dir):
    return A.daily_stats(_fact(spark, sf_dir))

SQL_DAILY_STATS = _PRELUDE + """
SELECT CAST(warc_ts AS DATE) AS capture_date,
  count(*) AS total_records,
  count(DISTINCT lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)))
    AS unique_domains,
  round(avg(length), 4) AS avg_content_length,
  CAST(sum(CAST(status = 200 AS INT)) AS BIGINT) AS success_count
FROM pages_cdx GROUP BY 1"""

def q_status_percentiles(spark, sf_dir):
    return A.status_percentiles(_fact(spark, sf_dir))

SQL_STATUS_PERCENTILES = _PRELUDE + """
SELECT status AS status_code,
  round(quantile_cont(length, 0.5), 4) AS p50_length,
  round(quantile_cont(length, 0.95), 4) AS p95_length,
  count(*) AS n
FROM pages_cdx GROUP BY 1"""

def q_domain_profile(spark, sf_dir):
    return A.domain_profile(_fact(spark, sf_dir))

SQL_DOMAIN_PROFILE = _PRELUDE + """
SELECT lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS url_domain,
  count(*) AS n_captures,
  count(DISTINCT url) AS n_urls,
  round(avg(len(list_filter(string_split(
    coalesce(nullif(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
             ''), '/'), '/'), s -> s != ''))), 4) AS avg_depth,
  array_to_string(list_sort(list_distinct(list(mime))), ',') AS mime_types
FROM pages_cdx GROUP BY 1"""

def q_domain_similarity(spark, sf_dir):
    """J4 theta self-join: per-domain content profiles, pairwise similarity
    (sample_queries.sql:278-309), top-20 most-similar pairs."""
    return A.domain_similarity_pairs(cdx_pages_view(spark, sf_dir),
                                     min_pages=20, top_n=20)

SQL_DOMAIN_SIMILARITY = _PRELUDE + f"""
, prof AS (
  SELECT host AS domain,
    avg({OG.token_count_ws_sql('text')}) AS avg_word_count,
    count(*) AS total_pages
  FROM pages_cdx GROUP BY 1 HAVING count(*) >= 20
)
SELECT d1.domain AS domain_1, d2.domain AS domain_2,
  round(abs(d1.avg_word_count - d2.avg_word_count), 6) AS word_count_diff,
  round(abs(d1.avg_word_count - d2.avg_word_count) / 1000.0, 6)
    AS similarity_score
FROM prof d1 CROSS JOIN prof d2
WHERE d1.domain < d2.domain
ORDER BY similarity_score ASC, domain_1 ASC, domain_2 ASC
LIMIT 20"""

def q_size_distribution(spark, sf_dir):
    return A.size_distribution(_fact(spark, sf_dir))

SQL_SIZE_DISTRIBUTION = _PRELUDE + """
, bucketed AS (
  SELECT CASE WHEN length < 1024 THEN 'tiny'
              WHEN length < 10240 THEN 'small'
              WHEN length < 102400 THEN 'medium'
              WHEN length < 1048576 THEN 'large'
              ELSE 'huge' END AS content_size_category
  FROM pages_cdx
), counts AS (
  SELECT content_size_category, count(*) AS n FROM bucketed GROUP BY 1
)
SELECT content_size_category, n,
  round(n * 100.0 / sum(n) OVER (), 4) AS pct
FROM counts"""
