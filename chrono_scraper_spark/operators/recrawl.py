"""Freshness-driven recrawl scheduling.

The reference crawls Wayback snapshots (historical, immutable), so its
scheduler only prioritizes NEW captures (enhanced_intelligent_filter.py
priority scores; crawl ordering in project services). A live crawler at
10^10-URL scale must also decide WHEN to revisit a page it already has —
the classic freshness problem (Cho & Garcia-Molina, "Effective Page
Refresh Policies for Web Crawlers", TODS 2003): estimate each page's
change rate from its observed capture history and revisit pages in order
of expected staleness, instead of uniformly.

``recrawl_schedule`` is that policy as one relational pass over the
capture log:

* per-URL change history: one lag window over (url, ts) — digest
  inequality marks a change observation (same convention as
  ``changes.detect_changes``);
* per-URL Poisson rate estimate: λ = n_changes / observed_span — kept as
  an integer ``lambda_e9`` (changes·1e9 per second, floor-div) so results
  are bit-identical across partitionings and engines;
* staleness score: ``score_e9 = lambda_e9 · age_s`` — the expected number
  of changes missed since the last capture (×1e9), the quantity the
  proportional-to-rate policy ranks by. "now" is the corpus max capture
  time (deterministic — no wall clock in the plan);
* ``due`` marks URLs whose score crosses the caller's threshold;
  single-capture URLs carry ``cold_start = true`` (no observable rate —
  schedulers typically route them through a uniform-revisit tier).

Scale shape: the window and the per-URL aggregation share one shuffle on
the url key; corpus "now" is a 1-row broadcast; everything else is a
zero-shuffle projection. Only time DIFFERENCES appear in the output, so
epoch/timezone conventions cancel between engines. No global sort — feed
``score_e9`` into the politeness scheduler (``politeness.schedule_round``)
for the actual ranked, host-budgeted fetch order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

E9 = 1_000_000_000


def recrawl_schedule(pages: DataFrame, url_col: str = "url",
                     ts_col: str = "warc_ts", digest_col: str = "digest",
                     due_threshold_e9: int = E9 // 2) -> DataFrame:
    """Per-URL change-rate estimate + staleness score from a capture log.

    Output: (url, n_captures, n_changes, span_s, lambda_e9, age_s,
    score_e9, cold_start, due) — one row per distinct URL.
    """
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("long")
    w = Window.partitionBy(url_col).orderBy(ts_s, F.col(digest_col))
    versions = pages.select(
        F.col(url_col).alias("url"), ts_s.alias("_ts"),
        F.col(digest_col).alias("_dg"),
        F.lag(F.col(digest_col)).over(w).alias("_prev"))
    per_url = versions.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_captures"),
        F.sum(F.when(F.col("_prev").isNotNull()
                     & (F.col("_dg") != F.col("_prev")), 1).otherwise(0))
        .cast("long").alias("n_changes"),
        (F.max("_ts") - F.min("_ts")).cast("long").alias("span_s"),
        F.max("_ts").alias("_last"))
    # one row per URL, small columns — materialize so the corpus "now"
    # agg and the scoring projection share one window+agg pass
    per_url = per_url.localCheckpoint(eager=True)
    now = per_url.agg(F.max("_last").alias("_now"))
    return (per_url.join(F.broadcast(now))
            .select(
                "url", "n_captures", "n_changes", "span_s",
                F.when(F.col("span_s") > 0,
                       F.expr(f"n_changes * {E9}L DIV span_s"))
                .otherwise(F.lit(0)).cast("long").alias("lambda_e9"),
                (F.col("_now") - F.col("_last")).cast("long").alias("age_s"))
            .withColumn("score_e9",
                        (F.col("lambda_e9") * F.col("age_s")).cast("long"))
            .withColumn("cold_start", F.col("n_captures") == 1)
            .withColumn("due", F.col("score_e9") >= due_threshold_e9))
