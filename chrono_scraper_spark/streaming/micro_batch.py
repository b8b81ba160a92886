"""Streaming crawl rounds (SURVEY §2.11 T1).

The reference is a Celery-beat micro-batch system (celery_app.py:115-151);
the engine's batch round loop (plans/crawl.py) is the deterministic analog.
Each batch of newly arrived captures runs one crawl round
(``run_stream_round`` → ``CrawlJob.run_round``), and ``drain_frontier``
crawls what politeness deferred between arrivals. Streaming and batch share
one code path for seen-set dedup, politeness, extraction and the catalog
commits; the rounds are driven directly rather than by a Structured
Streaming writer, so their order is reproducible (T1: "chosen: rounds").

State never lives in executor memory: the url_seen table is the state, as
in the batch design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import collapse_digest, in_batch_dedup
from ..plans.crawl import FRONTIER_KEY
from ..sources.cdx import discover


def run_stream_round(job, new_pages: DataFrame) -> dict:
    """One streaming crawl round: the celery-beat tick analog
    (celery_app.py:115-151 — the reference's beat schedule kicks a crawl
    task per interval; here each micro-batch IS the tick).

    Candidates = discover(new captures) → digest collapse → in-batch
    dedup, UNION the frontier deferred by the previous round (pinned to
    its lineage row, exactly like the batch round loop). Everything after
    discovery — seen-set anti-join, filter chain, politeness token
    budget, global order, extraction, idempotent MERGE commits, lineage —
    is ``CrawlJob.run_round`` ITSELF via its ``discovered`` injection, so
    streaming and batch cannot drift: they run one code path.

    The round index and pinned versions come from the ``crawl_rounds``
    manifests and the seed list from the job's once-collected rows, so no
    Spark job runs here before the round's own.
    """
    round_idx = job.next_round()
    prev = job._prev_versions(round_idx)
    raw = discover(new_pages, job.seeds,
                   allowed_mime=None if job.include_attachments
                   else ["text/html"])
    cands = in_batch_dedup(collapse_digest(raw), FRONTIER_KEY)
    if round_idx > 0 and prev.get("frontier") is not None:
        carried = job._read_pinned("frontier", prev, "url string") \
            .drop("decision")
        cands = cands.unionByName(carried, allowMissingColumns=True)
        if "retry_count" in cands.columns:
            cands = cands.withColumn(
                "retry_count",
                F.coalesce(F.col("retry_count"), F.lit(0).cast("int")))
        # a deferred row and a re-arriving capture of the same key must
        # not both enter the round
        cands = in_batch_dedup(cands, FRONTIER_KEY)
    return job.run_round(round_idx, discovered=cands)


def drain_frontier(job, max_rounds: int = 25) -> list[dict]:
    """Run deferred-frontier rounds until the frontier empties — the
    between-arrivals half of the beat loop (politeness deferred more work
    than one round's budget; no new captures needed to finish it)."""
    out: list[dict] = []
    for _ in range(max_rounds):
        res = job.run_round(job.next_round())
        out.append(res)
        if res.get("empty") or (res.get("deferred", 0) == 0
                                and res.get("retrying", 0) == 0):
            break
    return out
