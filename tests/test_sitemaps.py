"""Sitemap discovery (operators/sitemaps.py)."""

from __future__ import annotations

from datetime import datetime

from chrono_scraper_spark.operators.sitemaps import (
    parse_sitemaps,
    sitemap_recrawl_status,
)


XML = ('<?xml version="1.0"?><urlset>'
       "<url><loc> https://h/a </loc><lastmod>2021-03-04</lastmod></url>"
       "<url>\n<loc>https://h/b</loc>\n</url>"
       "<url><lastmod>2021-01-01</lastmod></url>"     # no loc -> dropped
       "</urlset>")


def test_parse_sitemaps(spark):
    bodies = spark.createDataFrame([("h", XML)], "host string, body string")
    got = {r["loc"]: r["lastmod"] for r in parse_sitemaps(bodies).collect()}
    # loc whitespace trimmed by the regex; absent lastmod -> NULL
    assert got == {"https://h/a": "2021-03-04", "https://h/b": None}


def test_sitemap_recrawl_status(spark):
    entries = spark.createDataFrame(
        [("h", "https://h/stale", "2021-06-01"),
         ("h", "https://h/fresh", "2021-01-01"),
         ("h", "https://h/sameday", "2021-03-04"),   # date-only, same day
         ("h", "https://h/noclaim", None),
         ("h", "https://h/new", "2021-06-01")],
        "host string, loc string, lastmod string")
    caps = spark.createDataFrame(
        [(u, datetime(2021, 3, 4, 10, 30, 0))
         for u in ("https://h/stale", "https://h/fresh",
                   "https://h/sameday", "https://h/noclaim")],
        "url string, warc_ts timestamp")
    got = {r["url"]: (r["status"], r["last_capture_ts14"])
           for r in sitemap_recrawl_status(entries, caps).collect()}
    assert got["https://h/stale"] == ("stale", "20210304103000")
    assert got["https://h/fresh"][0] == "fresh"
    # date-only lastmod on the capture day sorts BEFORE the timestamp ->
    # fresh (no claim of a post-capture change)
    assert got["https://h/sameday"][0] == "fresh"
    assert got["https://h/noclaim"][0] == "fresh"
    assert got["https://h/new"] == ("new", None)


def test_parse_sitemaps_changefreq_priority(spark):
    """Optional urlset fields: changefreq token (lowercased), priority
    double (malformed -> NULL), both NULL when omitted."""
    body = ("<?xml version='1.0'?><urlset>"
            "<url><loc>https://h/a</loc><changefreq>Daily</changefreq>"
            "<priority>0.8</priority></url>"
            "<url><loc>https://h/b</loc><priority>high</priority></url>"
            "<url><loc>https://h/c</loc></url>"
            "</urlset>")
    df = spark.createDataFrame([("h", body)], "host string, body string")
    got = {r["loc"]: (r["changefreq"], r["priority"])
           for r in parse_sitemaps(df).collect()}
    assert got == {"https://h/a": ("daily", 0.8),
                   "https://h/b": (None, None),   # malformed priority
                   "https://h/c": (None, None)}
