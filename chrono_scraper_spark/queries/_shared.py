"""Shared preludes: CDX frontier helpers + DuckDB CTE preludes.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chrono_scraper_spark import config as C
from chrono_scraper_spark.corpus import PAGES_CTE_DUCK, cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.operators.filters import with_filter_decision
from chrono_scraper_spark.operators.politeness import schedule_round



_PRELUDE = (f"WITH pages_cdx AS ({PAGES_CTE_DUCK}), "
            f"cand AS (SELECT * FROM pages_cdx WHERE status = 200 "
            f"AND mime IN ('text/html','application/pdf'))")

_DCOLS = OG.decision_columns_sql()

_DECIDED = (_PRELUDE + f""",
decided AS (
  SELECT url, ts14, host, length, digest,
    {_DCOLS['status']} AS status,
    {_DCOLS['reason']} AS reason,
    {_DCOLS['confidence']} AS confidence,
    {_DCOLS['matched_pattern']} AS matched_pattern,
    {_DCOLS['priority_score']} AS priority_score
  FROM cand
)""")

_BUDGET_RPS, _BUDGET_BURST, _BUDGET_SECONDS = 0.1, 2, 60.0

_BUDGET0 = int(_BUDGET_RPS * _BUDGET_SECONDS) + _BUDGET_BURST  # round-0: 8

_SCHEDULED = (_DECIDED + f""",
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY host
            ORDER BY priority_score DESC, url ASC, ts14 ASC) AS INT)
            AS host_rank
  FROM decided WHERE status = 'pending'
),
scheduled AS (
  SELECT *, CASE WHEN host_rank <= {_BUDGET0} THEN 'scheduled'
                 ELSE 'deferred' END AS sched_status
  FROM ranked
)""")

def _cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cdx_pages_view(spark, sf_dir)
    return df.filter((F.col("status") == 200)
                     & F.col("mime").isin("text/html", "application/pdf"))

def _decided(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_filter_decision(_cand(spark, sf_dir))

def _scheduled(spark: SparkSession, sf_dir: str) -> DataFrame:
    pending = _decided(spark, sf_dir).filter(
        F.col("decision.status") == C.STATUS_PENDING)
    return schedule_round(pending, round_idx=0, rps=_BUDGET_RPS,
                          burst=_BUDGET_BURST, round_seconds=_BUDGET_SECONDS)

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from chrono_scraper_spark.functions.planutil import scan_parallelism_floor

    path = f"{sf_dir}/{name}.parquet"
    return scan_parallelism_floor(spark, spark.read.parquet(path), path)
