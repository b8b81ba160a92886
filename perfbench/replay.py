"""Staged replay of one crawl round, for the traced run.

``CrawlJob.run_round`` builds one lazy plan per phase and lets a few
actions execute it, so a timer around a lazy operator call measures
nothing. The traced run therefore replays the round it is about to run
through the same public functions, in the same order and with the same
arguments, and materializes each stage's output inside its span. Spark jobs
started in a span carry the span id as their job description, which
attributes the event log's engine counters to the span. The replay reads
the catalog at the round's pinned versions and commits nothing.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from chrono_scraper_spark import config as C
from chrono_scraper_spark.operators.dedup import (
    anti_join_seen,
    bloom_prefilter_anti_join,
    collapse_digest,
    in_batch_dedup,
)
from chrono_scraper_spark.operators.extraction import (
    with_extraction,
    with_quality_score,
)
from chrono_scraper_spark.operators.filters import with_filter_decision
from chrono_scraper_spark.operators.index import (
    build_inverted_terms,
    build_page_index,
)
from chrono_scraper_spark.operators.politeness import (
    robots_filter,
    schedule_round,
    with_global_order,
    with_salted_host_partition,
)
from chrono_scraper_spark.plans.crawl import BLOOM_THRESHOLD, FRONTIER_KEY
from chrono_scraper_spark.sources.cdx import discover, read_pages

# the staged layers, in round order
LAYERS = ("sources", "dedup", "filters", "politeness", "extraction", "index")


def pinned_versions(cat, round_idx: int) -> dict:
    """Table versions the round reads: those in the previous round's
    lineage row."""
    if round_idx == 0 or not cat.exists("crawl_rounds"):
        return {}
    row = (cat.read("crawl_rounds")
           .filter(F.col("round_idx") == round_idx - 1)
           .select("table_versions").first())
    return json.loads(row["table_versions"])


def replay_round(ctx, job, round_idx: int, new_pages=None) -> dict:
    """Replay round ``round_idx`` of ``job`` in stages. ``new_pages`` is
    the arriving batch of a streaming round (``run_stream_round``); without
    it the round discovers from the job's corpus, as a batch round 0 does.
    Returns the per-stage counts."""
    tr, spark, cat = ctx.tracer, ctx.spark, job.cat
    prev = pinned_versions(cat, round_idx)
    cached = []

    def keep(df):
        cached.append(df.cache())
        return cached[-1]

    def stage(name, layer):
        return tr.span(name, layer, job_tag=True, spark=spark)

    n = {}
    with tr.span(f"replay:{round_idx}", "replay"):
        with stage("sources.discover", "sources"):
            pages = (new_pages if new_pages is not None
                     else read_pages(spark, job.pages_path))
            raw = keep(discover(pages, job.seeds, allowed_mime=None
                                if job.include_attachments
                                else ["text/html"]))
            n["discovered"] = raw.count()
        with stage("dedup.collapse", "dedup"):
            cands = keep(in_batch_dedup(collapse_digest(raw), FRONTIER_KEY))
            n["collapsed"] = cands.count()
            if new_pages is not None and prev.get("frontier") is not None:
                carried = cat.read("frontier",
                                   version=prev["frontier"]).drop("decision")
                cands = cands.unionByName(carried, allowMissingColumns=True)
                if "retry_count" in cands.columns:
                    cands = cands.withColumn(
                        "retry_count", F.coalesce(F.col("retry_count"),
                                                  F.lit(0).cast("int")))
                cands = keep(in_batch_dedup(cands, FRONTIER_KEY))
            n["probed"] = cands.count()
        with stage("dedup.seen_antijoin", "dedup"):
            seen_ver = prev.get("url_seen")
            seen_n = cat.row_count("url_seen", seen_ver) if seen_ver else 0
            if seen_n > BLOOM_THRESHOLD:
                seen = cat.read("url_seen", version=seen_ver)
                cands = bloom_prefilter_anti_join(cands, seen, FRONTIER_KEY,
                                                  expected_items=seen_n)
                n["antijoin_path"] = "bloom"
            elif seen_n > 0:
                seen = cat.read("url_seen", version=seen_ver)
                cands = anti_join_seen(cands, seen, FRONTIER_KEY)
                n["antijoin_path"] = "exact"
            else:
                n["antijoin_path"] = "none"
            cands = keep(robots_filter(cands, job.robots_rules))
            n["new"] = cands.count()
        with stage("filters.decide", "filters"):
            if prev.get("seen_digests") is not None:
                seen_digests = cat.read("seen_digests",
                                        version=prev["seen_digests"])
            else:
                seen_digests = spark.createDataFrame([], "digest string")
            decided = keep(with_filter_decision(
                cands, seen_digests=seen_digests,
                include_attachments=job.include_attachments))
            n["decided"] = decided.count()
            pending = decided.filter(
                F.col("decision.status") == C.STATUS_PENDING)
            n["pending"] = pending.count()
        with stage("politeness.schedule", "politeness"):
            sched = keep(schedule_round(
                pending, round_idx=round_idx, rps=job.rps, burst=job.burst,
                round_seconds=job.round_seconds,
                budget_overrides=job.budget_overrides,
                prune_salt_k=job.schedule_prune_k))
            counts = {r["sched_status"]: r["count"] for r in
                      sched.groupBy("sched_status").count().collect()}
            n["scheduled"] = int(counts.get("scheduled", 0))
        with stage("politeness.global_order", "politeness"):
            scheduled = with_global_order(
                sched.filter(F.col("sched_status") == "scheduled"))
            go_cache = getattr(scheduled, "_global_order_cache", None)
            if "retry_count" not in scheduled.columns:
                scheduled = scheduled.withColumn("retry_count",
                                                 F.lit(0).cast("int"))
        with stage("extraction.fetch_extract", "extraction") as sp:
            payload = read_pages(spark, job.pages_path).select(
                "url", F.date_format("warc_ts", "yyyyMMddHHmmss")
                .alias("ts14"), "html")
            work = payload.join(F.broadcast(scheduled), ["url", "ts14"],
                                "inner")
            missing = (scheduled
                       .join(payload.select("url", "ts14"), ["url", "ts14"],
                             "left_anti")
                       .withColumn("html", F.lit(None).cast("binary")))
            work = work.unionByName(missing, allowMissingColumns=True)
            parallelism = spark.sparkContext.defaultParallelism
            if payload.rdd.getNumPartitions() < max(2, parallelism * 3 // 4):
                work = with_salted_host_partition(
                    work, target_rows_per_partition=max(
                        200, n["scheduled"] // max(1, parallelism * 4)))
            extracted = keep(with_quality_score(
                with_extraction(work).drop("html"), "extracted.text"))
            status = {r["fetch_status"]: r["count"] for r in
                      extracted.groupBy("fetch_status").count().collect()}
            n["completed"] = int(status.get(C.STATUS_COMPLETED, 0))
            n["extracted"] = sum(status.values())
            sp["attrs"]["pages"] = n["extracted"]
            if go_cache is not None:
                go_cache.unpersist()
        with stage("index.build", "index"):
            completed = extracted.filter(
                F.col("fetch_status") == C.STATUS_COMPLETED)
            inv = build_inverted_terms(build_page_index(completed),
                                       doc_key="seq")
            n["postings"] = inv.count()
    for df in cached:
        df.unpersist()
    return n
