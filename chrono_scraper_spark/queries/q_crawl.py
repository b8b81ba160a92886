"""Crawl family: filter chain, seen-set dedup, politeness, order.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark import config as C
from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.functions.urls import (
    url_depth,
    url_extension,
    url_host,
    url_path,
)
from chrono_scraper_spark.operators import url_quality as UQ
from chrono_scraper_spark.operators.dedup import (
    anti_join_seen,
    bloom_prefilter_anti_join,
    categorize_against_registry,
    collapse_digest,
    cuckoo_prefilter_anti_join,
)
from chrono_scraper_spark.operators.filters import filter_stats
from chrono_scraper_spark.operators.politeness import schedule_round, with_global_order

from ._shared import (
    _BUDGET0,
    _BUDGET_BURST,
    _BUDGET_RPS,
    _BUDGET_SECONDS,
    _DECIDED,
    _PRELUDE,
    _SCHEDULED,
    _cand,
    _decided,
    _scheduled,
)


def q_filter_decisions(spark, sf_dir):
    return _decided(spark, sf_dir).select(
        "url", "ts14",
        F.col("decision.status").alias("status"),
        F.col("decision.reason").alias("reason"),
        F.col("decision.confidence").alias("confidence"),
        F.col("decision.matched_pattern").alias("matched_pattern"),
        F.col("decision.priority_score").alias("priority_score"),
    )

SQL_FILTER_DECISIONS = _DECIDED + """
SELECT url, ts14, status, reason, confidence, matched_pattern, priority_score
FROM decided"""

def q_filter_stats(spark, sf_dir):
    return filter_stats(_decided(spark, sf_dir))

SQL_FILTER_STATS = _DECIDED + """
SELECT status, reason, count(*) AS n FROM decided GROUP BY 1, 2"""

def q_collapse_digest(spark, sf_dir):
    return collapse_digest(_cand(spark, sf_dir)).select("url", "ts14", "digest")

SQL_COLLAPSE_DIGEST = _PRELUDE + """
SELECT url, ts14, digest FROM cand
QUALIFY row_number() OVER (PARTITION BY digest
                           ORDER BY warc_ts ASC, url ASC) = 1"""

def _seen(spark, sf_dir):
    return _cand(spark, sf_dir).filter(F.col("doc_id") % 7 == 0) \
        .select("url", "ts14")


def _seen_upper_bound(sf_dir) -> int:
    """Upper bound on the seen-set size from parquet FOOTER metadata — no
    count job (the crawl path sizes its filter the same way, from the
    catalog manifest's row_count: plans/crawl.py:279). Every doc fans out
    to at most 3 captures and the seen set keeps doc_id % 7 == 0, so
    3 * n_docs / 7 bounds it; overestimating only lowers the filter's
    false-positive rate (more bits), never changes the output."""
    from chrono_scraper_spark.functions.planutil import _parquet_rows

    n_docs = _parquet_rows(f"{sf_dir}/documents.parquet") or 0
    return max(64, (3 * n_docs) // 7)

SQL_SEEN_ANTI_JOIN = _PRELUDE + """
SELECT c.url, c.ts14 FROM cand c
ANTI JOIN (SELECT url, ts14 FROM cand WHERE doc_id % 7 = 0) s
  ON c.url = s.url AND c.ts14 = s.ts14"""

def q_seen_antijoin(spark, sf_dir):
    return anti_join_seen(_cand(spark, sf_dir), _seen(spark, sf_dir),
                          keys=["url", "ts14"]).select("url", "ts14")

def q_seen_antijoin_bloom(spark, sf_dir):
    return bloom_prefilter_anti_join(
        _cand(spark, sf_dir), _seen(spark, sf_dir), keys=["url", "ts14"],
        expected_items=_seen_upper_bound(sf_dir),
    ).select("url", "ts14")

def q_seen_antijoin_bloom_bucketed(spark, sf_dir):
    """The 10^10-key dedup path: per-bucket executor-built filters (no
    global broadcast), exact anti-join on the maybe-seen remainder — output
    provably identical to the plain anti-join oracle."""
    return bloom_prefilter_anti_join(
        _cand(spark, sf_dir), _seen(spark, sf_dir), keys=["url", "ts14"],
        expected_items=_seen_upper_bound(sf_dir), n_buckets=8,
    ).select("url", "ts14")

def q_seen_antijoin_cuckoo(spark, sf_dir):
    """D4 via the sharded cuckoo filter (functions/cuckoo.py — deletable
    seen set, north-star's Bloom/Cuckoo alternative): broadcast shard
    tables prefilter, exact anti-join confirms — output provably identical
    to the plain anti-join oracle."""
    return cuckoo_prefilter_anti_join(
        _cand(spark, sf_dir), _seen(spark, sf_dir), keys=["url", "ts14"],
        expected_items=_seen_upper_bound(sf_dir), n_shards=4,
    ).select("url", "ts14")

def q_url_blocklist(spark, sf_dir):
    """RefinedWeb-style URL filtering (operators/url_quality.py): exact
    broadcast domain blocklist + codegen banned-word score. Spam fragments
    planted deterministically (synthetic frontier URLs carry none);
    blocklist = hosts of every doc_id % 31 == 0 row."""
    cand = _cand(spark, sf_dir)
    did = F.col("doc_id")
    planted = cand.withColumn("url", F.concat(
        F.col("url"),
        F.when(did % 9 == 0, F.lit("?ref=casino-bonus"))
        .when(did % 21 == 0, F.lit("/adult-dating-webcam"))
        .when(did % 33 == 0, F.lit("/viagra-pills-xxx"))
        .otherwise(F.lit(""))))
    bl = planted.filter(did % 31 == 0).select(F.col("host").alias("domain"))
    out = UQ.with_url_quality(planted, bl)
    return out.select(
        "url", "ts14", "blocklisted",
        F.col("url_spam_score").cast("double").alias("url_spam_score"),
        "url_decision")

SQL_URL_BLOCKLIST = _PRELUDE + f""",
planted AS (
  SELECT url ||
    CASE WHEN doc_id % 9 = 0 THEN '?ref=casino-bonus'
         WHEN doc_id % 21 = 0 THEN '/adult-dating-webcam'
         WHEN doc_id % 33 = 0 THEN '/viagra-pills-xxx'
         ELSE '' END AS url,
    ts14, host, doc_id
  FROM cand
),
bl AS (SELECT DISTINCT host AS domain FROM planted WHERE doc_id % 31 = 0),
scored AS (
  SELECT p.url, p.ts14,
    (b.domain IS NOT NULL) AS blocklisted,
    {UQ.sql_url_spam_score('p.url')} AS url_spam_score
  FROM planted p LEFT JOIN bl b ON p.host = b.domain
)
SELECT url, ts14, blocklisted,
  CAST(url_spam_score AS DOUBLE) AS url_spam_score,
  CASE WHEN blocklisted THEN 'blocked_domain'
       WHEN url_spam_score >= {UQ.BLOCK_THRESHOLD} THEN 'blocked_spam'
       ELSE 'clean' END AS url_decision
FROM scored"""

def q_registry_categorize(spark, sf_dir):
    cand = _cand(spark, sf_dir)
    registry = cand.filter(F.col("doc_id") % 5 < 2).select(
        F.col("url").alias("url_canon"), "ts14",
        F.when(F.col("doc_id") % 5 == 0, "completed")
        .otherwise("pending").alias("scrape_status"))
    out = categorize_against_registry(
        cand.withColumn("url_canon", F.col("url")), registry)
    return out.select(F.col("url_canon").alias("url"), "ts14", "dedup_category")

SQL_REGISTRY_CATEGORIZE = _PRELUDE + """
, registry AS (
  SELECT url, ts14,
         CASE WHEN doc_id % 5 = 0 THEN 'completed' ELSE 'pending' END
           AS scrape_status
  FROM cand WHERE doc_id % 5 < 2
)
SELECT c.url, c.ts14,
  CASE WHEN r.scrape_status = 'completed' THEN 'to_link'
       WHEN r.scrape_status IN ('pending', 'in_progress')
         THEN 'already_processing'
       ELSE 'to_scrape' END AS dedup_category
FROM cand c LEFT JOIN registry r ON c.url = r.url AND c.ts14 = r.ts14"""

def q_politeness_schedule(spark, sf_dir):
    return _scheduled(spark, sf_dir).select(
        "url", "ts14", "host", "host_rank", "sched_status")

SQL_POLITENESS_SCHEDULE = _SCHEDULED + """
SELECT url, ts14, host, host_rank, sched_status FROM scheduled"""

def q_politeness_schedule_pruned(spark, sf_dir):
    """The mega-host-safe two-phase ranking (prune per (host, salt), exact
    window on survivors): scheduled set + scheduled ranks provably identical
    to the full window; deferred rows carry a null rank. The oracle computes
    the full window and nulls ranks beyond budget — hash-match proves the
    pruned path exact."""
    pending = _decided(spark, sf_dir).filter(
        F.col("decision.status") == C.STATUS_PENDING)
    out = schedule_round(pending, round_idx=0, rps=_BUDGET_RPS,
                         burst=_BUDGET_BURST, round_seconds=_BUDGET_SECONDS,
                         prune_salt_k=8)
    return out.select("url", "ts14", "host", "host_rank", "sched_status")

SQL_POLITENESS_SCHEDULE_PRUNED = _SCHEDULED + f"""
SELECT url, ts14, host,
  CASE WHEN host_rank <= {_BUDGET0} THEN host_rank END AS host_rank,
  sched_status
FROM scheduled"""

def q_crawl_order(spark, sf_dir):
    # _global_order_cache contract: one range-partitioned frame stays cached
    # until the caller unpersists (CrawlJob.run_round does); in this
    # collect-and-exit driver path it is reclaimed by the ContextCleaner
    # when the returned DataFrame is dropped (perfbench's headline pass
    # additionally clearCache()s between queries).
    sched = _scheduled(spark, sf_dir).filter(
        F.col("sched_status") == "scheduled")
    return with_global_order(sched).select("seq", "url", "ts14")

SQL_CRAWL_ORDER = _SCHEDULED + """
SELECT row_number() OVER (ORDER BY priority_score DESC, url ASC, ts14 ASC)
         AS seq,
       url, ts14
FROM scheduled WHERE sched_status = 'scheduled'"""

def q_url_parts(spark, sf_dir):
    urls = cdx_pages_view(spark, sf_dir).select("url").distinct()
    u = F.col("url")
    return urls.select(
        "url", url_host(u).alias("host"), url_path(u).alias("path"),
        url_depth(u).cast("long").alias("url_depth"),
        url_extension(u).alias("file_extension"))

SQL_URL_PARTS = _PRELUDE + """
, urls AS (SELECT DISTINCT url FROM pages_cdx),
parts AS (
  SELECT url,
    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host,
    coalesce(nullif(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
                    ''), '/') AS path
  FROM urls
)
SELECT url, host, path,
  len(list_filter(string_split(path, '/'), s -> s != '')) AS url_depth,
  CASE WHEN contains(list_extract(string_split(lower(path), '/'), -1), '.')
       THEN '.' || list_extract(
              string_split(list_extract(string_split(lower(path), '/'), -1),
                           '.'), -1)
       ELSE '' END AS file_extension
FROM parts"""
