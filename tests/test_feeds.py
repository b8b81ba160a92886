"""RSS/Atom feed parsing (operators/feeds.py)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from chrono_scraper_spark.operators.feeds import (
    feed_recrawl_status,
    parse_feeds,
)

RSS = """<?xml version="1.0"?><rss version="2.0"><channel>
<title>chan</title><link>https://a.example/</link>
<item><title>Post 1</title><link>https://a.example/p1</link>
<pubDate>Tue, 10 Jun 2003 04:00:00 GMT</pubDate></item>
<item><title>No date</title><link>https://a.example/p2</link></item>
<item><description>no link - dropped</description></item>
<item><title>Zoned</title><link>https://a.example/p3</link>
<pubDate>Mon, 09 Jun 2003 23:00:00 +0500</pubDate></item>
</channel></rss>"""

ATOM = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
<title>site</title>
<entry><title>E1</title>
<link rel="alternate" href="https://b.example/e1"/>
<updated>2021-05-04T12:30:00Z</updated></entry>
<entry><title>E2</title><link href="https://b.example/e2"/>
<updated>bogus</updated></entry>
</feed>"""


def test_parse_feeds(spark):
    bodies = spark.createDataFrame(
        [("a.example", RSS), ("b.example", ATOM)],
        "host string, body string")
    rows = {r["item_url"]: r for r in parse_feeds(bodies).collect()}
    assert set(rows) == {"https://a.example/p1", "https://a.example/p2",
                         "https://a.example/p3",
                         "https://b.example/e1", "https://b.example/e2"}
    p1 = rows["https://a.example/p1"]
    assert (p1["kind"], p1["title"]) == ("rss", "Post 1")
    assert p1["published_iso"] == "2003-06-10T04:00:00"
    # missing pubDate -> both NULL
    assert rows["https://a.example/p2"]["published_raw"] is None
    assert rows["https://a.example/p2"]["published_iso"] is None
    # non-UTC numeric offset: raw kept, iso NULL (documented no-claim)
    p3 = rows["https://a.example/p3"]
    assert p3["published_raw"].endswith("+0500")
    assert p3["published_iso"] is None
    e1 = rows["https://b.example/e1"]
    assert (e1["kind"], e1["published_iso"]) == (
        "atom", "2021-05-04T12:30:00")
    # malformed Atom updated -> iso NULL
    assert rows["https://b.example/e2"]["published_iso"] is None


def test_parse_feeds_map_only(spark):
    bodies = spark.createDataFrame([("h", RSS)], "host string, body string")
    plan = parse_feeds(bodies)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_feed_recrawl_status(spark):
    bodies = spark.createDataFrame(
        [("a.example", RSS), ("b.example", ATOM)],
        "host string, body string")
    items = parse_feeds(bodies)
    caps = spark.createDataFrame(
        [("https://a.example/p1", datetime.datetime(2003, 6, 9)),
         ("https://b.example/e1", datetime.datetime(2022, 1, 1))],
        "url string, warc_ts timestamp")
    got = {r["url"]: r for r in
           feed_recrawl_status(items, caps).collect()}
    # published after last capture -> stale
    assert got["https://a.example/p1"]["status"] == "stale"
    # never captured -> new (with or without a date claim)
    assert got["https://a.example/p2"]["status"] == "new"
    assert got["https://b.example/e2"]["status"] == "new"
    # captured after publication -> fresh
    assert got["https://b.example/e1"]["status"] == "fresh"
    assert got["https://b.example/e1"]["kind"] == "atom"


def test_rss_iso_single_digit_day(spark):
    """RFC 822 allows 1-digit days — 'Mon, 5 Jun 2023' must parse, not
    silently NULL out the item's freshness claim."""
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.feeds import _rss_iso

    df = spark.createDataFrame(
        [("Mon, 5 Jun 2023 04:00:00 GMT",),
         ("5 Jun 2023 04:00:00 UT",),
         ("Tue, 10 Jun 2003 04:00:00 GMT",)], "pub string")
    got = [r[0] for r in df.select(_rss_iso(F.col("pub"))).collect()]
    assert got == ["2023-06-05T04:00:00", "2023-06-05T04:00:00",
                   "2003-06-10T04:00:00"]
