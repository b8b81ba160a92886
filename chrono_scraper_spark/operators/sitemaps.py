"""Sitemap discovery: sitemap-XML parsing and lastmod-driven recrawl
candidacy.

The reference discovers URLs exclusively through Wayback/CC CDX indexes;
a live crawler's other standard discovery channel is sitemaps.org
protocol XML. Two composable relational passes, all JVM regexp/array
expressions (RE2-compatible patterns, shared verbatim with the DuckDB
oracle — no XML library, sitemap files in the wild are too dirty for
strict parsers anyway, and the two tags we need are regular):

* ``parse_sitemaps`` — ``<url><loc>/<lastmod>`` entries from urlset
  bodies (one explode per body; at 50k-URL-per-file protocol limits a
  body is ~5 MB, far under Spark's 2 GiB cell cap);
* ``sitemap_recrawl_status`` — join parsed entries against the capture
  log: ``new`` (never captured), ``stale`` (lastmod after the last
  capture — the sitemap says the page changed), ``fresh`` otherwise.
  Complements ``recrawl.recrawl_schedule``: lastmod is the publisher's
  change signal, the Poisson estimate is the crawler's own; schedulers
  union both.

lastmod stays a STRING (W3C datetime — ISO 8601 orders lexicographically,
so comparisons are exact without timezone-sensitive casts in either
engine); malformed entries (no loc) are dropped, absent lastmod is NULL
(counts as not-stale — no claim means no signal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

URL_BLOCK_RE = r"(?is)<url>.*?</url>"
LOC_RE = r"(?is)<loc>\s*(.*?)\s*</loc>"
LASTMOD_RE = r"(?is)<lastmod>\s*(.*?)\s*</lastmod>"
CHANGEFREQ_RE = r"(?is)<changefreq>\s*(.*?)\s*</changefreq>"
PRIORITY_RE = r"(?is)<priority>\s*(.*?)\s*</priority>"


def parse_sitemaps(bodies: DataFrame, host_col: str = "host",
                   body_col: str = "body") -> DataFrame:
    """``(host, loc, lastmod, changefreq, priority)`` page entries from
    urlset sitemap bodies. One row per ``<url>`` block with a non-empty
    ``<loc>``; the optional fields are NULL when the block omits them.
    ``changefreq`` is the lowercased protocol token (always/hourly/daily/
    weekly/monthly/yearly/never — a publisher HINT feeding
    ``changefreq_interval_s`` and the recrawl scheduler); ``priority`` is
    the 0.0-1.0 double (malformed values → NULL via try_cast)."""
    body = F.col(body_col).cast("string")
    blocks = F.regexp_extract_all(body, F.lit(URL_BLOCK_RE), F.lit(0))
    out = (bodies
           .select(F.col(host_col).alias("host"),
                   F.explode(blocks).alias("block"))
           .select("host",
                   F.regexp_extract("block", LOC_RE, 1).alias("loc"),
                   F.regexp_extract("block", LASTMOD_RE, 1).alias("lastmod"),
                   F.lower(F.regexp_extract("block", CHANGEFREQ_RE, 1))
                   .alias("changefreq"),
                   F.regexp_extract("block", PRIORITY_RE, 1)
                   .alias("priority"))
           .filter(F.col("loc") != ""))
    return (out
            .withColumn("lastmod",
                        F.when(F.col("lastmod") != "", F.col("lastmod")))
            .withColumn("changefreq",
                        F.when(F.col("changefreq") != "",
                               F.col("changefreq")))
            .withColumn("priority",
                        F.expr("try_cast(priority AS DOUBLE)")))


def sitemap_recrawl_status(entries: DataFrame, captures: DataFrame,
                           url_col: str = "url",
                           ts_col: str = "warc_ts") -> DataFrame:
    """Join sitemap entries against the capture log:
    (url, lastmod, last_capture_ts14, status) with status ``new`` (never
    captured), ``stale`` (lastmod strictly after the last capture),
    ``fresh`` otherwise (including entries with no lastmod claim).

    One shuffle on the url key (the capture max-agg); the sitemap side
    is discovery-sized. last capture is compared as ts14 string vs ISO
    lastmod via a lexicographic-safe reformat of ts14 to ISO date-time."""
    last = captures.groupBy(F.col(url_col).alias("url")).agg(
        F.max(F.date_format(F.col(ts_col), "yyyyMMddHHmmss"))
        .alias("last_ts14"))
    j = (entries.select(F.col("loc").alias("url"), "lastmod")
         .join(last, "url", "left"))
    # ts14 -> ISO "yyyy-MM-ddTHH:mm:ss" (lexicographically comparable
    # with W3C lastmod values; date-only lastmod "2021-05-04" compares
    # before any same-day timestamp — a same-day capture counts fresh)
    iso = F.concat(
        F.substring("last_ts14", 1, 4), F.lit("-"),
        F.substring("last_ts14", 5, 2), F.lit("-"),
        F.substring("last_ts14", 7, 2), F.lit("T"),
        F.substring("last_ts14", 9, 2), F.lit(":"),
        F.substring("last_ts14", 11, 2), F.lit(":"),
        F.substring("last_ts14", 13, 2))
    return j.select(
        "url", "lastmod",
        F.col("last_ts14").alias("last_capture_ts14"),
        F.when(F.col("last_ts14").isNull(), "new")
        .when(F.col("lastmod").isNotNull() & (F.col("lastmod") > iso),
              "stale")
        .otherwise("fresh").alias("status"))
