"""End-to-end crawl: ordering + URL-seen parity vs the Python oracle on
both seen-set anti-join paths (exact, Bloom), resume from snapshots,
torn-round replay, a failed commit wave, full-text search over the result,
and the retry/circuit-breaker options (T7/T8).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import generate_pages
from chrono_scraper_spark.operators.index import search
from chrono_scraper_spark.plans.catalog import SnapshotCatalog
from chrono_scraper_spark.plans.crawl import CrawlJob

from .crawl_oracle import crawl_oracle
from .jobcount import count_jobs, persisted_rdd_ids

RPS, BURST, ROUND_SECONDS = 0.1, 2, 60.0  # budget: 8 in round 0, 6 after


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("crawl") / "pages")
    generate_pages(spark, 60, partitions=4).write.parquet(p)
    return p


@pytest.fixture(scope="module")
def seeds(spark):
    return spark.createDataFrame(
        [(1, r"https://.*", "regex", None, None, None)],
        "project_id int, domain_name string, match_type string, "
        "url_path string, from_date date, to_date date")


def _job(spark, tmp, corpus_path, seeds, name):
    cat = SnapshotCatalog(spark, str(tmp / name))
    return CrawlJob(spark, cat, corpus_path, seeds, rps=RPS, burst=BURST,
                    round_seconds=ROUND_SECONDS, salt_target_rows=10)


def _oracle(spark, corpus_path):
    rows = [r.asDict() for r in
            spark.read.parquet(corpus_path).selectExpr(
                "url", "warc_ts", "date_format(warc_ts,'yyyyMMddHHmmss') ts14",
                "host", "mime", "status", "digest", "length", "text").collect()]
    return crawl_oracle(rows, rps=RPS, burst=BURST, round_seconds=ROUND_SECONDS)


@pytest.fixture(params=["exact", "bloom"])
def antijoin(request, monkeypatch):
    """The seen-set anti-join path the crawl's rounds take. ``bloom`` drops
    the Bloom threshold to 0, so every round with a non-empty url_seen runs
    the Bloom-prefiltered anti-join. Returns the path and the list of Bloom
    anti-join calls."""
    import chrono_scraper_spark.plans.crawl as crawl_mod

    calls = []
    real = crawl_mod.bloom_prefilter_anti_join

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(crawl_mod, "bloom_prefilter_anti_join", spy)
    if request.param == "bloom":
        monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", 0)
    return request.param, calls


def _engine_state(cat):
    log = [(r["round_idx"], r["seq"], r["url"], r["ts14"], r["fetch_status"])
           for r in cat.read("fetch_log").collect()]
    log.sort(key=lambda t: (t[0], t[1]))
    seen = {(r["url"], r["ts14"]): (r["status"], r["first_seen_round"])
            for r in cat.read("url_seen").collect()}
    filtered = {(r["url"], r["ts14"]): (r["status"], r["filter_reason"])
                for r in cat.read("filtered_log").collect()}
    return log, seen, filtered


def test_crawl_matches_oracle(spark, tmp_path, corpus_path, seeds, antijoin):
    job = _job(spark, tmp_path, corpus_path, seeds, "wh_main")
    rounds = job.run(max_rounds=50)
    assert rounds and rounds[-1].get("deferred", 0) == 0
    exp = _oracle(spark, corpus_path)
    log, seen, filtered = _engine_state(job.cat)
    assert log == exp["fetch_log"]          # crawl ordering, byte-for-byte
    assert seen == exp["url_seen"]          # final URL-seen set
    assert set(filtered) == set(exp["filtered"])
    for k, (status, reason) in exp["filtered"].items():
        assert filtered[k] == (status, reason), k
    path, bloom_calls = antijoin
    assert bool(bloom_calls) == (path == "bloom"), len(bloom_calls)

    # lineage recorded one row per round with partition counts
    lineage = job.cat.read("crawl_rounds").collect()
    assert len(lineage) == len(rounds)

    # full-text search works over the committed index (page_index is a
    # projection of pages_out, not a separate table)
    from chrono_scraper_spark.operators.index import page_index_from_pages_out

    pi = page_index_from_pages_out(job.cat.read("pages_out"))
    inv = job.cat.read("inverted_terms")
    some_word = pi.selectExpr("split(content, ' ')[0] w").first()["w"]
    hits = search(pi, inv, some_word, limit=5)
    assert hits.count() > 0


def test_resume_equals_uninterrupted(spark, tmp_path, corpus_path, seeds):
    ref = _job(spark, tmp_path, corpus_path, seeds, "wh_ref")
    ref.run(max_rounds=50)

    half = _job(spark, tmp_path, corpus_path, seeds, "wh_half")
    half.run_round(0)
    half.run_round(1)
    # fresh job object over the same catalog — resume from snapshots
    resumed = _job(spark, tmp_path, corpus_path, seeds, "wh_half")
    assert resumed.next_round() == 2
    resumed.run(max_rounds=50)

    assert _engine_state(ref.cat) == _engine_state(resumed.cat)


def test_torn_round_replay(spark, tmp_path, corpus_path, seeds, antijoin):
    """Crash simulation: round 1 commits everything, then the crawl_rounds
    lineage pointer is rolled back (= crash before the round's commit point).
    Replaying round 1 against the pinned previous-round versions must
    converge to the identical final state."""
    ref = _job(spark, tmp_path, corpus_path, seeds, "wh_ref2")
    ref.run(max_rounds=50)

    job = _job(spark, tmp_path, corpus_path, seeds, "wh_torn")
    job.run_round(0)
    job.run_round(1)
    # roll back the lineage pointer only — all other tables keep round 1 data
    cur = job.cat._tdir("crawl_rounds") + "/_current"
    with open(cur) as f:
        v = int(f.read())
    with open(cur, "w") as f:
        f.write(str(v - 1))
    replay = _job(spark, tmp_path, corpus_path, seeds, "wh_torn")
    assert replay.next_round() == 1  # the torn round is not "done"
    replay.run(max_rounds=50)
    assert _engine_state(ref.cat) == _engine_state(replay.cat)
    path, bloom_calls = antijoin
    assert bool(bloom_calls) == (path == "bloom"), len(bloom_calls)


def test_round_state_reads_no_spark_job(spark, tmp_path, corpus_path, seeds):
    """Round state comes from the current crawl_rounds manifest: on a
    two-round catalog the next round, the completed rounds and the pinned
    versions submit no Spark job, and agree with the lineage rows. A
    rollback snapshot records no round state; its lineage rows answer."""
    import json

    job = _job(spark, tmp_path, corpus_path, seeds, "wh_state")
    job.run_round(0)
    job.run_round(1)
    with count_jobs(spark) as jobs:
        nxt = job.next_round()
        done = job.completed_rounds()
        pinned = job._prev_versions(2)
    assert jobs["n"] == 0
    assert (nxt, done) == (2, [0, 1])
    rows = {r["round_idx"]: json.loads(r["table_versions"])
            for r in job.cat.read("crawl_rounds").collect()}
    assert pinned == rows[1]
    with count_jobs(spark) as jobs:
        with pytest.raises(RuntimeError, match="no lineage row"):
            job._prev_versions(3)
    assert jobs["n"] == 0
    assert job._prev_versions(1) == rows[0]   # an older round, from rows

    job.cat.rollback("crawl_rounds", 1)   # back to round 0's lineage
    assert job.completed_rounds() == [0]
    assert job.next_round() == 1
    assert job._prev_versions(1) == rows[0]


def test_resume_after_catalog_maintenance(spark, tmp_path, corpus_path,
                                          seeds):
    """Offline maintenance between crawl runs (compact every table, then
    expire all but the last two snapshots, as scripts/maintain_catalog.py
    does) removes the older crawl_rounds manifests and leaves a compact
    snapshot without round state current. Resume still finds round 2 and
    converges to the oracle."""
    job = _job(spark, tmp_path, corpus_path, seeds, "wh_maint")
    job.run_round(0)
    job.run_round(1)
    cat = job.cat
    for t in sorted(os.listdir(cat.root)):
        if cat.exists(t):
            cat.compact(t, properties={"maintenance": True})
            cat.expire_snapshots(t, keep_last=2)
    assert [m["version"] for m in cat.snapshots("crawl_rounds")] == [2, 3]
    assert "table_versions" not in cat.manifest("crawl_rounds")["properties"]
    resumed = _job(spark, tmp_path, corpus_path, seeds, "wh_maint")
    assert resumed.next_round() == 2
    assert resumed.completed_rounds() == [0, 1]
    resumed.run(max_rounds=50)
    exp = _oracle(spark, corpus_path)
    log, seen, _ = _engine_state(resumed.cat)
    assert log == exp["fetch_log"]
    assert seen == exp["url_seen"]


# Spark jobs of one warm drain round on the fixture corpus (local[4]).
# The round's jobs all move data: the decision pass, the schedule and
# fetch/extract, and the table commits. Round state, schemas, seeds, the
# lineage row and the global order's offsets cost none; a change that adds
# a metadata job back fails here.
DRAIN_ROUND_MAX_JOBS = 26
# Analyzed plan of any table write in a round. The round cuts its lineage
# at the decision and extraction checkpoints, so a write plans over a
# LogicalRDD leaf: 0.5-7.5 KB here. A write that still carries the decision
# chain (the two materialization points as caches) measures 33-330 KB.
WRITE_PLAN_MAX_BYTES = 16 * 1024


def test_drain_round_job_budget(spark, tmp_path, corpus_path, seeds,
                                monkeypatch):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh_budget"))
    # budget 3 per host in round 0, then 1: rounds 1 and 2 drain deferrals
    job = CrawlJob(spark, cat, corpus_path, seeds, rps=0.02, burst=2,
                   round_seconds=ROUND_SECONDS)
    job.run_round(0)
    write_plans = {}
    write_fragment = cat._write_fragment

    def recording_write(table, version, df, **kwargs):
        write_plans[table] = df._jdf.queryExecution().analyzed().toString()
        return write_fragment(table, version, df, **kwargs)

    monkeypatch.setattr(cat, "_write_fragment", recording_write)
    job.run_round(1)    # warm: compiles the drain round's plans
    monkeypatch.undo()
    assert set(write_plans) >= {"fetch_log", "url_seen", "pages_out",
                                "inverted_terms", "frontier"}
    for table, plan in write_plans.items():
        # the ~120-regex filter-decision chain leaked past the checkpoint
        assert "RLIKE" not in plan, table
        assert len(plan) < WRITE_PLAN_MAX_BYTES, (table, len(plan))

    persisted = persisted_rdd_ids(spark)
    with count_jobs(spark) as jobs:
        counters = job.run_round(2)
    assert counters["scheduled"] > 0 and counters["deferred"] > 0
    assert jobs["n"] <= DRAIN_ROUND_MAX_JOBS, jobs["n"]
    # no checkpoint or cache of the round outlives it
    assert persisted_rdd_ids(spark) == persisted


def test_failed_round_awaits_filtered_log_commit(spark, tmp_path, corpus_path,
                                                 seeds, monkeypatch):
    """The filtered_log MERGE runs in the background while the round
    schedules and fetches. If a later stage raises, run_round must not
    return before that merge has landed: a retry in the same process would
    otherwise race the orphaned writer for the same table version. The
    retried crawl must converge to the oracle."""
    from chrono_scraper_spark.plans import crawl as crawl_mod

    job = _job(spark, tmp_path, corpus_path, seeds, "wh_fail")
    merge = job.cat.merge_not_matched
    landed = []

    def slow_merge(table, *args, **kwargs):
        if table == "filtered_log":
            time.sleep(2.0)
        out = merge(table, *args, **kwargs)
        if table == "filtered_log":
            landed.append(time.monotonic())
        return out

    def failing_schedule(*args, **kwargs):
        raise RuntimeError("injected schedule failure")

    monkeypatch.setattr(job.cat, "merge_not_matched", slow_merge)
    monkeypatch.setattr(crawl_mod, "schedule_round", failing_schedule)
    persisted = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected schedule failure"):
        job.run_round(0)
    raised = time.monotonic()
    assert landed and landed[0] <= raised
    # the failed round released its discovery cache and decision checkpoint
    assert persisted_rdd_ids(spark) == persisted

    monkeypatch.undo()
    retry = _job(spark, tmp_path, corpus_path, seeds, "wh_fail")
    assert retry.next_round() == 0  # the failed round wrote no lineage row
    retry.run(max_rounds=50)
    exp = _oracle(spark, corpus_path)
    log, seen, filtered = _engine_state(retry.cat)
    assert log == exp["fetch_log"]
    assert seen == exp["url_seen"]
    assert filtered == exp["filtered"]


def test_failed_commit_wave_awaits_every_commit(spark, tmp_path, corpus_path,
                                               seeds, monkeypatch):
    """The table merges and the frontier overwrite run as one concurrent
    wave. If one merge of the wave raises, run_round must not return before
    every other commit of the wave and the background filtered_log merge
    has landed, must write no lineage row and must release every
    checkpoint and cache; a fresh job's replay converges to the oracle."""
    import threading

    job = _job(spark, tmp_path, corpus_path, seeds, "wh_wave")
    merge, commit = job.cat.merge_not_matched, job.cat.commit
    failed = threading.Event()
    landed = {}

    def faulty_merge(table, *args, **kwargs):
        if table == "inverted_terms":
            time.sleep(1.0)
            failed.set()
            raise RuntimeError("injected inverted_terms failure")
        if table == "filtered_log":
            # still writing when the wave fails
            failed.wait(timeout=120)
            time.sleep(0.5)
        out = merge(table, *args, **kwargs)
        landed[table] = time.monotonic()
        return out

    def late_commit(table, *args, **kwargs):
        if table == "frontier":
            failed.wait(timeout=120)
            time.sleep(0.5)
        out = commit(table, *args, **kwargs)
        landed[table] = time.monotonic()
        return out

    monkeypatch.setattr(job.cat, "merge_not_matched", faulty_merge)
    monkeypatch.setattr(job.cat, "commit", late_commit)
    persisted = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected inverted_terms failure"):
        job.run_round(0)
    raised = time.monotonic()
    assert set(landed) == {"fetch_log", "url_seen", "pages_out",
                           "seen_digests", "frontier", "filtered_log"}
    assert max(landed.values()) <= raised
    assert not job.cat.exists("crawl_rounds")
    # the failed round released its discovery cache and both checkpoints
    assert persisted_rdd_ids(spark) == persisted

    monkeypatch.undo()
    retry = _job(spark, tmp_path, corpus_path, seeds, "wh_wave")
    assert retry.next_round() == 0  # the failed round wrote no lineage row
    retry.run(max_rounds=50)
    exp = _oracle(spark, corpus_path)
    log, seen, filtered = _engine_state(retry.cat)
    assert log == exp["fetch_log"]
    assert seen == exp["url_seen"]
    assert filtered == exp["filtered"]


def test_mixed_html_pdf_corpus_end_to_end(spark, tmp_path, seeds):
    """PDF rows flow through the WHOLE pipeline: admitted by the CDX mime
    filter, scheduled, routed through the PDF parser, byte-identical text
    in pages_out, searchable in the index."""
    corpus = str(tmp_path / "pages_pdf")
    generate_pages(spark, 60, partitions=4, pdf_every=8).write.parquet(corpus)
    cat = SnapshotCatalog(spark, str(tmp_path / "wh_pdf"))
    job = CrawlJob(spark, cat, corpus, seeds, rps=10_000.0, burst=0,
                   round_seconds=60.0)
    job.run(max_rounds=3)

    log = cat.read("fetch_log")
    methods = {r["extract_method"] for r in
               log.select("extract_method").distinct().collect()}
    assert "pdf" in methods and "article" in methods
    # every completed pdf row's extracted text is byte-identical to source
    src = {(r["url"], r["ts14"]): r["text"] for r in
           spark.read.parquet(corpus).selectExpr(
               "url", "date_format(warc_ts,'yyyyMMddHHmmss') ts14",
               "text", "mime").collect()
           if r["mime"] == "application/pdf"}
    assert src, "corpus must contain pdf captures"
    got = {(r["url"], r["ts14"]): r["extracted_text"] for r in
           cat.read("pages_out").filter("round_idx >= 0").collect()}
    checked = 0
    for k, text in src.items():
        if k in got:           # short pdfs fail the word-count gate
            assert got[k] == text, k
            checked += 1
    assert checked > 0


def test_retry_transient_and_breaker(spark, tmp_path):
    """T7: failed extractions re-enter the frontier until max_retries, then
    terminalize; deterministic corpus → same failure each attempt."""
    from chrono_scraper_spark.corpus import generate_pages
    from chrono_scraper_spark.plans.catalog import SnapshotCatalog
    from chrono_scraper_spark.plans.crawl import CrawlJob

    corpus = str(tmp_path / "pages")
    # bump the CDX-reported length so short docs (extraction failures)
    # survive the size filter — in real CDX data `length` is the WARC
    # record size, not the html byte count
    generate_pages(spark, 40, partitions=2).withColumn(
        "length", F.col("length") + 1500
    ).write.parquet(corpus)
    seeds = spark.createDataFrame(
        [(1, r"https://.*", "regex", None, None, None)],
        "project_id int, domain_name string, match_type string, "
        "url_path string, from_date date, to_date date")

    job = CrawlJob(spark, SnapshotCatalog(spark, str(tmp_path / "wh")),
                   corpus, seeds, rps=1000.0, burst=0,
                   retry_transient=True, max_retries=2)
    rounds = job.run(max_rounds=10)
    # short docs fail deterministically → retried twice then terminal
    assert any(r.get("retrying", 0) > 0 for r in rounds)
    assert rounds[-1].get("retrying", 0) == 0

    log = job.cat.read("fetch_log")
    attempts = (log.filter("fetch_status = 'failed'")
                .groupBy("url_canon", "ts14")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.max("retry_count").alias("max_rc")))
    top = attempts.agg(F.max("n"), F.max("max_rc")).first()
    assert top[0] == 3 and top[1] == 2  # initial try + 2 retries
    # terminal failures ended up in url_seen exactly once
    seen_failed = job.cat.read("url_seen").filter("status = 'failed'")
    assert seen_failed.count() == attempts.count()

    # T8: breaker trips on high failure rate
    job2 = CrawlJob(spark, SnapshotCatalog(spark, str(tmp_path / "wh2")),
                    corpus, seeds, rps=1000.0, burst=0,
                    retry_transient=True, max_retries=5,
                    failure_rate_trip=0.01)
    rounds2 = job2.run(max_rounds=10)
    assert rounds2[-1].get("circuit_open")
    assert len(rounds2) < 6
