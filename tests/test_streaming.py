"""Structured Streaming surface: the crawl round as a foreachBatch job
(parity with the batch CrawlJob), watermarked windowed aggregation and the
restart-idempotent sketch writers."""

from __future__ import annotations

import pytest

from chrono_scraper_spark.corpus import generate_pages
from chrono_scraper_spark.plans.catalog import SnapshotCatalog
from chrono_scraper_spark.streaming import micro_batch as MB


@pytest.fixture(scope="module")
def stream_corpus(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "pages")
    generate_pages(spark, 80, partitions=4).write.parquet(p)
    return p


def test_windowed_capture_counts(spark, tmp_path, stream_corpus):
    stream = MB.read_pages_stream(spark, stream_corpus)
    agg = MB.windowed_capture_counts(stream, watermark="7 days", window="1 day")
    q = (agg.writeStream.format("memory").queryName("winagg")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from winagg")
    # append mode emits only watermark-closed windows; with a bounded input
    # all but the tail emit
    assert got.count() > 0
    batch = spark.read.parquet(stream_corpus)
    batch_days = (batch.selectExpr("date_trunc('day', warc_ts) d", "host")
                  .distinct().count())
    assert got.count() <= batch_days
    assert got.filter("n_captures < 1").count() == 0


# ---------------------------------------------------------------------------
# full crawl loop as a streaming job: parity with the batch CrawlJob
# ---------------------------------------------------------------------------

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
    """Two foreachBatch rounds over a file-split corpus produce the same
    url_seen and pages_out CONTENT as one batch round over the whole
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
    stream = MB.read_pages_stream(spark, corpus, max_files_per_trigger=2)
    q = MB.crawl_stream_writer(stream, sjob,
                               str(tmp_path / "ckpt_crawl")).start()
    q.awaitTermination(300)
    assert len(sjob.completed_rounds()) >= 2       # >=2 micro-batch rounds

    assert _content_state(batch.cat) == _content_state(sjob.cat)


def test_streaming_crawl_budget_carryover_exact_parity(spark, tmp_path):
    """One micro-batch (whole corpus) + drain rounds under a BINDING
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
    stream = MB.read_pages_stream(spark, corpus, max_files_per_trigger=64)
    q = MB.crawl_stream_writer(stream, sjob,
                               str(tmp_path / "ckpt_bind")).start()
    q.awaitTermination(300)
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


def test_sessionized_host_activity_matches_batch(spark, tmp_path,
                                                 stream_corpus):
    stream = MB.read_pages_stream(spark, stream_corpus)
    agg = MB.sessionized_host_activity(stream, watermark="1 hour",
                                       gap="30 minutes")
    q = (agg.writeStream.format("memory").queryName("sessagg")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["session_start"], r["session_end"], r["host"], r["n_captures"])
           for r in spark.sql("select * from sessagg").collect()}

    from pyspark.sql import functions as F
    batch = spark.read.parquet(stream_corpus)
    exp_all = {(r["session_start"], r["session_end"], r["host"],
                r["n_captures"])
               for r in (batch
                         .groupBy(F.session_window("warc_ts", "30 minutes")
                                  .alias("w"), "host")
                         .agg(F.count(F.lit(1)).alias("n_captures"))
                         .select(F.col("w.start").alias("session_start"),
                                 F.col("w.end").alias("session_end"),
                                 "host", "n_captures")).collect()}
    # append mode emits only watermark-closed sessions; every emitted
    # session must be byte-identical to its batch twin, and the bounded
    # corpus must close most of them (max ts - 1 h watermark)
    assert got and got <= exp_all
    assert len(got) >= len(exp_all) * 0.5


def test_hll_stream_matches_batch_sketch(spark, tmp_path, stream_corpus):
    """Registers maintained across micro-batches by max-merge must equal
    the one-shot batch sketch over the whole corpus — and replaying the
    stream over the same checkpoint must change nothing (max-merge
    idempotency = restart safety)."""
    from chrono_scraper_spark.operators.analytics import (
        hll_estimate,
        hll_registers,
    )

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    stream = MB.read_pages_stream(spark, stream_corpus,
                                  max_files_per_trigger=2)
    q = MB.hll_stream_writer(stream, cat, str(tmp_path / "ck"),
                             col="url").start()
    q.awaitTermination(120)
    assert len(cat.snapshots("url_hll")) >= 2   # several batches merged
    got = {tuple(r) for r in cat.read("url_hll").collect()}
    whole = spark.read.parquet(stream_corpus)
    want = {tuple(r) for r in hll_registers(whole, "url").collect()}
    assert got == want
    n_est = hll_estimate(cat.read("url_hll")).collect()[0]["est_distinct"]
    assert n_est > 0

    q2 = MB.hll_stream_writer(
        MB.read_pages_stream(spark, stream_corpus), cat,
        str(tmp_path / "ck"), col="url").start()
    q2.awaitTermination(60)
    assert {tuple(r) for r in cat.read("url_hll").collect()} == want


def test_cms_stream_matches_batch_and_replay_idempotent(
        spark, tmp_path, stream_corpus):
    from chrono_scraper_spark.operators.analytics import (
        cms_build,
        cms_query,
    )

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    stream = MB.read_pages_stream(spark, stream_corpus,
                                  max_files_per_trigger=2)
    q = MB.cms_stream_writer(stream, cat, str(tmp_path / "ck"),
                             col="host").start()
    q.awaitTermination(120)
    whole = spark.read.parquet(stream_corpus)
    live = MB.read_cms_sketch(cat)
    assert ({tuple(r) for r in live.collect()}
            == {tuple(r) for r in cms_build(whole, "host").collect()})
    # per-host estimates from the streamed sketch = exact counts here
    # (sparse regime), proving the delta-sum read path end-to-end
    est = {r["host"]: r["est"]
           for r in cms_query(live, whole, "host").collect()}
    true = {r["host"]: r["n"] for r in
            whole.groupBy("host").count()
            .withColumnRenamed("count", "n").collect()}
    assert all(est[h] >= n for h, n in true.items())

    # replay: same checkpoint, no new files -> delta table unchanged
    n_rows = cat.read("host_cms").count()
    q2 = MB.cms_stream_writer(
        MB.read_pages_stream(spark, stream_corpus), cat,
        str(tmp_path / "ck"), col="host").start()
    q2.awaitTermination(60)
    assert cat.read("host_cms").count() == n_rows


def test_hll_stream_writer_keys_require_schema(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="keys_schema"):
        MB.hll_stream_writer(None, cat, str(tmp_path / "ck"),
                             col="url", keys=("host",))
