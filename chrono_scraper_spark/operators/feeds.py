"""RSS/Atom feed parsing — the third discovery channel.

The reference discovers URLs through Wayback/CC CDX indexes; round 4
added sitemaps (publisher URL inventory). Feeds are the remaining
standard channel — the *freshness* channel: a site's RSS/Atom feed
announces NEW and UPDATED pages minutes after publication, long before a
sitemap regenerates or the CDX index sees a capture. Two composable
relational passes, all JVM regexp/array expressions (RE2-compatible,
shared verbatim with the DuckDB oracle — same no-XML-library rationale
as sitemaps.py: wild feeds are too dirty for strict parsers, and the
handful of tags needed are regular):

* ``parse_feeds`` — ``<item>`` (RSS 2.0) and ``<entry>`` (Atom) blocks
  → one row per item with ``(host, item_url, title, published_raw,
  published_iso, kind)``. RSS ``pubDate`` is RFC 822 (``Tue, 10 Jun 2003
  04:00:00 GMT``) — normalized to ISO via a locale-stable English
  month/day parse; Atom ``updated`` is already ISO 8601 (offset suffix
  dropped; feeds in the wild are overwhelmingly UTC — documented
  convention, same spirit as sitemaps keeping lastmod a string);
* ``feed_recrawl_status`` — the published claim joined against the
  capture log via ``sitemaps.sitemap_recrawl_status`` (an item's
  ``published_iso`` plays lastmod): ``new`` / ``stale`` / ``fresh``.

Scale: parsing is map-only (one ``Generate`` per feed body — zero
exchanges); the status join is one shuffle on the url key, dominated by
the capture-log agg exactly like the sitemap path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ITEM_BLOCK_RE = r"(?is)<item[\s>].*?</item>"
ENTRY_BLOCK_RE = r"(?is)<entry[\s>].*?</entry>"
RSS_LINK_RE = r"(?is)<link>\s*(.*?)\s*</link>"
ATOM_LINK_RE = "(?is)<link\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']"
PUBDATE_RE = r"(?is)<pubdate>\s*(.*?)\s*</pubdate>"
UPDATED_RE = r"(?is)<updated>\s*(.*?)\s*</updated>"
TITLE_RE = r"(?is)<title>\s*(.*?)\s*</title>"

#: RFC 822 zone suffix we normalize away before the English-locale parse;
#: non-UTC numeric offsets are rare in feeds and parse to NULL (no claim).
_RFC822_TZ_RE = r"\s+(GMT|UT|UTC|Z|\+0000)$"


def _rss_iso(pub: Column) -> Column:
    """RFC 822 pubDate → 'yyyy-MM-ddTHH:mm:ss' (UTC-suffixed forms only;
    else NULL). English month/day names are locale-stable in both
    engines."""
    # day-of-week is redundant in RFC 822 and Spark refuses EEE in parse
    # patterns — strip it (and the zone suffix) before the parse
    stripped = F.regexp_replace(
        F.regexp_replace(pub, _RFC822_TZ_RE, ""),
        r"^\s*[A-Za-z]{3},\s*", "")
    # RFC 822 allows 1- or 2-digit days ("5 Jun 2023"); left-pad to two
    # so the strict dd pattern accepts both
    stripped = F.regexp_replace(stripped, r"^\s*(\d)\s", r"0$1 ")
    ts = F.try_to_timestamp(stripped, F.lit("dd MMM yyyy HH:mm:ss"))
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")


def _atom_iso(upd: Column) -> Column:
    """Atom updated (ISO 8601) → bare 'yyyy-MM-ddTHH:mm:ss' (offset
    suffix dropped — UTC convention, module docstring)."""
    v = F.substring(upd, 1, 19)
    return F.when(v.rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$"), v)


def parse_feeds(bodies: DataFrame, host_col: str = "host",
                body_col: str = "body") -> DataFrame:
    """(host, item_url, title, published_raw, published_iso, kind) from
    RSS ``<item>`` and Atom ``<entry>`` blocks (one explode per body per
    family; items without a link are dropped)."""
    body = F.col(body_col).cast("string")

    def half(block_re: str, link_re: str, date_re: str, iso, kind: str):
        blocks = F.regexp_extract_all(body, F.lit(block_re), F.lit(0))
        raw = F.when(F.regexp_extract("block", date_re, 1) != "",
                     F.regexp_extract("block", date_re, 1))
        return (bodies
                .select(F.col(host_col).alias("host"),
                        F.explode(blocks).alias("block"))
                .select(
                    "host",
                    F.regexp_extract("block", link_re, 1).alias("item_url"),
                    F.when(F.regexp_extract("block", TITLE_RE, 1) != "",
                           F.regexp_extract("block", TITLE_RE, 1))
                    .alias("title"),
                    raw.alias("published_raw"),
                    iso(raw).alias("published_iso"),
                    F.lit(kind).alias("kind"))
                .filter(F.col("item_url") != ""))

    rss = half(ITEM_BLOCK_RE, RSS_LINK_RE, PUBDATE_RE, _rss_iso, "rss")
    atom = half(ENTRY_BLOCK_RE, ATOM_LINK_RE, UPDATED_RE, _atom_iso, "atom")
    return rss.unionByName(atom)


def feed_recrawl_status(items: DataFrame, captures: DataFrame,
                        url_col: str = "url",
                        ts_col: str = "warc_ts") -> DataFrame:
    """Feed items joined against the capture log — ``published_iso``
    plays the sitemap ``lastmod`` role: ``new`` (never captured),
    ``stale`` (published after the last capture), ``fresh``. Output
    (url, published_iso, last_capture_ts14, status, kind)."""
    from chrono_scraper_spark.operators.sitemaps import (
        sitemap_recrawl_status,
    )
    entries = items.select(F.col("item_url").alias("loc"),
                           F.col("published_iso").alias("lastmod"),
                           "kind")
    st = sitemap_recrawl_status(
        entries.select("loc", "lastmod"), captures,
        url_col=url_col, ts_col=ts_col)
    kinds = entries.select(F.col("loc").alias("url"), "kind").distinct()
    return (st.withColumnRenamed("lastmod", "published_iso")
            .join(kinds, "url", "left"))
