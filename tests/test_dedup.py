"""Dedup / seen-set operators: exactness and Bloom equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.functions.urls import ts14, url_canon
from chrono_scraper_spark.operators import dedup as D


def _frontier(spark):
    rows = [
        ("https://a.com/x", "2020-01-01 00:00:00", "dg1"),
        ("https://a.com/x", "2020-01-02 00:00:00", "dg1"),  # same digest, later
        ("https://a.com/y", "2020-01-01 00:00:00", "dg2"),
        ("https://b.com/z", "2020-02-01 00:00:00", "dg3"),
        ("https://b.com/z", "2020-02-01 00:00:00", "dg3"),  # exact dup row
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, digest string")
    df = df.withColumn("warc_ts", F.to_timestamp("warc_ts"))
    return df.withColumn("url_canon", url_canon(F.col("url"))).withColumn(
        "ts14", ts14(F.col("warc_ts")))


def test_collapse_digest_keeps_earliest(spark):
    out = D.collapse_digest(_frontier(spark))
    got = {r["digest"]: r["ts14"] for r in out.collect()}
    assert got == {"dg1": "20200101000000", "dg2": "20200101000000",
                   "dg3": "20200201000000"}


def test_in_batch_dedup(spark):
    out = D.in_batch_dedup(_frontier(spark))
    assert out.count() == 4  # the exact-dup (url,ts) pair collapses


def test_anti_and_semi_join_partition(spark):
    fr = D.in_batch_dedup(_frontier(spark))
    seen = spark.createDataFrame(
        [("https://a.com/x", "20200101000000")], "url_canon string, ts14 string")
    new = {(r["url_canon"], r["ts14"]) for r in D.anti_join_seen(fr, seen)
           .collect()}
    everything = {(r["url_canon"], r["ts14"]) for r in fr.collect()}
    assert len(new) == 3
    assert new == everything - {("https://a.com/x", "20200101000000")}


def test_bloom_prefilter_matches_exact_anti_join(spark, pages):
    """Bloom path must be exactly the anti-join (FP only re-checked, never a
    false drop)."""
    fr = pages.select("url", "warc_ts").withColumn(
        "url_canon", url_canon(F.col("url"))).withColumn(
        "ts14", ts14(F.col("warc_ts")))
    seen = fr.limit(60).select("url_canon", "ts14")
    exact = D.anti_join_seen(fr, seen)
    bloomed = D.bloom_prefilter_anti_join(fr, seen, fpp=0.2)
    a = {(r["url_canon"], r["ts14"]) for r in exact.collect()}
    b = {(r["url_canon"], r["ts14"]) for r in bloomed.collect()}
    assert a == b


def test_categorize_against_registry(spark):
    fr = D.in_batch_dedup(_frontier(spark))
    reg = spark.createDataFrame(
        [("https://a.com/x", "20200101000000", "completed"),
         ("https://a.com/y", "20200101000000", "in_progress")],
        "url_canon string, ts14 string, scrape_status string")
    out = D.categorize_against_registry(fr, reg)
    got = {(r["url_canon"], r["ts14"]): r["dedup_category"] for r in out.collect()}
    assert got[("https://a.com/x", "20200101000000")] == "to_link"
    assert got[("https://a.com/y", "20200101000000")] == "already_processing"
    assert got[("https://b.com/z", "20200201000000")] == "to_scrape"
    assert got[("https://a.com/x", "20200102000000")] == "to_scrape"


def test_snapshot_diff_four_classes(spark):
    from chrono_scraper_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3"), ("u5", None)],
        "url string, digest string")
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4"), ("u5", None)],
        "url string, digest string")
    out = {r["url"]: r["change"] for r in snapshot_diff(old, new).collect()}
    assert out == {"u1": "unchanged", "u2": "changed", "u3": "removed",
                   "u4": "added", "u5": "unchanged"}  # null==null digests


def test_snapshot_diff_plan_single_full_outer_join(spark):
    from chrono_scraper_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame([("u", "d")], "url string, digest string")
    new = spark.createDataFrame([("u", "d")], "url string, digest string")
    plan = snapshot_diff(old, new)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FullOuter" in plan
    assert plan.count("SortMergeJoin") == 1  # one key join, no window


def test_surt_collapse_variants_fold(spark):
    from chrono_scraper_spark.operators.dedup import surt_collapse

    rows = [
        # three spellings of one resource, captured at different times
        ("https://example.com/p?b=2&a=1", "2020-01-02 00:00:00", "t2"),
        ("https://www.example.com/p?a=1&b=2", "2020-01-01 00:00:00", "t1"),
        ("http://EXAMPLE.com/p?a=1&b=2", "2020-01-03 00:00:00", "t3"),
        # a different resource on the same host
        ("https://example.com/q", "2020-01-01 00:00:00", "t4"),
    ]
    df = spark.createDataFrame(
        [(u, t, s) for u, t, s in rows],
        "url string, warc_ts string, ts14 string").withColumn(
        "warc_ts", F.to_timestamp("warc_ts"))
    got = {r["surt"]: r for r in surt_collapse(df).collect()}
    assert set(got) == {"com,example)/p?a=1&b=2", "com,example)/q"}
    p = got["com,example)/p?a=1&b=2"]
    # earliest capture is the representative; all 3 variants counted
    assert p["url"] == "https://www.example.com/p?a=1&b=2"
    assert p["ts14"] == "t1" and p["n_variants"] == 3
    assert p["n_captures"] == 3
    q = got["com,example)/q"]
    assert q["n_variants"] == 1 and q["n_captures"] == 1


def test_latest_captures_argmax(spark):
    from chrono_scraper_spark.operators.dedup import latest_captures

    rows = [("u1", "2020", "d1", 200), ("u1", "2022", "d2", 200),
            ("u1", "2021", "d3", 404), ("u2", "2019", "d4", 200)]
    df = spark.createDataFrame(
        rows, "url string, ts14 string, digest string, status int")
    got = {r["url"]: (r["ts14"], r["digest"], r["status"])
           for r in latest_captures(df).collect()}
    assert got == {"u1": ("2022", "d2", 200), "u2": ("2019", "d4", 200)}
    assert latest_captures(df).columns == df.columns
    # deterministic under any partitioning
    got2 = {r["url"]: (r["ts14"], r["digest"], r["status"])
            for r in latest_captures(df.repartition(8)).collect()}
    assert got2 == got
