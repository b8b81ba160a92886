"""Streaming crawl rounds: ``run_stream_round`` over arrival batches plus
``drain_frontier`` reproduce the batch CrawlJob."""

from __future__ import annotations

import glob

from chrono_scraper_spark.corpus import generate_pages
from chrono_scraper_spark.plans.catalog import SnapshotCatalog
from chrono_scraper_spark.streaming import micro_batch as MB


def _crawl_seeds(spark):
    return spark.createDataFrame(
        [(1, r"https://.*", "regex", None, None, None)],
        "project_id int, domain_name string, match_type string, "
        "url_path string, from_date date, to_date date")


def _crawl_job(spark, tmp_path, corpus, name, **kw):
    from chrono_scraper_spark.plans.crawl import CrawlJob

    cat = SnapshotCatalog(spark, str(tmp_path / name))
    return CrawlJob(spark, cat, corpus, _crawl_seeds(spark),
                    salt_target_rows=10, **kw)


def _content_state(cat):
    seen = {(r["url_canon"], r["ts14"]): (r["url"], r["status"])
            for r in cat.read("url_seen").collect()}
    pages = {(r["url_canon"], r["ts14"]): (r["url"], r["host"])
             for r in cat.read("pages_out")
             .select("url_canon", "ts14", "url", "host").collect()}
    return seen, pages


def test_streaming_crawl_two_microbatches_matches_batch(
        spark, tmp_path):
    """Two streaming rounds, one per half of the corpus files, produce the
    same url_seen and pages_out CONTENT as one batch round over the whole
    corpus (generous budget -> no deferrals; corpus pre-deduped so
    digest collapse is batch-split-invariant)."""
    corpus = str(tmp_path / "pages2mb")
    (generate_pages(spark, 80, partitions=4)
     .dropDuplicates(["digest"]).dropDuplicates(["url", "warc_ts"])
     .repartition(4).write.parquet(corpus))

    batch = _crawl_job(spark, tmp_path, corpus, "wh_batch", rps=100.0)
    rb = batch.run_round(0)
    assert rb["deferred"] == 0

    sjob = _crawl_job(spark, tmp_path, corpus, "wh_stream", rps=100.0)
    files = sorted(glob.glob(f"{corpus}/*.parquet"))
    assert len(files) == 4
    for half in (files[:2], files[2:]):
        MB.run_stream_round(sjob, spark.read.parquet(*half))
    assert len(sjob.completed_rounds()) >= 2       # >=2 arrival rounds

    assert _content_state(batch.cat) == _content_state(sjob.cat)


def test_streaming_crawl_budget_carryover_exact_parity(spark, tmp_path):
    """One streaming round (whole corpus) + drain rounds under a BINDING
    politeness budget reproduce the batch CrawlJob byte-for-byte: same
    rounds, same per-round crawl order (seq), same url_seen — the
    streaming tick and the batch loop are one code path."""
    corpus = str(tmp_path / "pagesbind")
    generate_pages(spark, 60, partitions=2).write.parquet(corpus)
    kw = dict(rps=0.1, burst=2, round_seconds=60.0)

    batch = _crawl_job(spark, tmp_path, corpus, "wh_batch_b", **kw)
    r = batch.run_round(0)
    i = 1
    while r.get("deferred", 0) > 0:
        r = batch.run_round(i)
        i += 1

    sjob = _crawl_job(spark, tmp_path, corpus, "wh_stream_b", **kw)
    MB.run_stream_round(sjob, spark.read.parquet(corpus))
    assert len(sjob.completed_rounds()) == 1       # one tick ran
    MB.drain_frontier(sjob)

    def full_log(cat):
        rows = [(r["round_idx"], r["seq"], r["url"], r["ts14"],
                 r["fetch_status"])
                for r in cat.read("fetch_log").collect()]
        return sorted(rows)

    assert full_log(sjob.cat) == full_log(batch.cat)
    assert _content_state(batch.cat) == _content_state(sjob.cat)
    assert sorted(sjob.completed_rounds()) == sorted(
        batch.completed_rounds())
