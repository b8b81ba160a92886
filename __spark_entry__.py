"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship crawl query: the oracle-parity CDX frontier at
sf0.001 through the full discovery chain (server-side filters → decision
chain → politeness round-0 budget → deterministic global crawl order).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data ops; definitions live in
``chrono_scraper_spark.entry_queries`` (Spark fns) with independent DuckDB
SQL oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the scheduled round-0 crawl
    frontier in deterministic crawl order."""
    from chrono_scraper_spark.entry_queries import _scheduled
    from chrono_scraper_spark.operators.politeness import with_global_order
    from pyspark.sql import functions as F

    sched = _scheduled(spark, "/root/testdata/sf0.001").filter(
        F.col("sched_status") == "scheduled")
    # With no row bound, with_global_order caches the range-partitioned
    # frame (its count pass and seq-assign pass must see one
    # partitioning) and hangs the handle on the result as
    # ``_global_order_cache``. CrawlJob passes the pending count as a row
    # bound, so a round-sized schedule caches nothing. Here the driver
    # collects the result and exits — the one cached frame (~sf0.001
    # rows) is reclaimed by the ContextCleaner / session stop.
    return with_global_order(sched).select(
        "seq", "url", "ts14", "host",
        F.col("decision.priority_score").alias("priority_score"),
        F.col("decision.reason").alias("reason"),
    ).orderBy("seq")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from chrono_scraper_spark.entry_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from chrono_scraper_spark.entry_queries import ORACLES

    return dict(ORACLES)
