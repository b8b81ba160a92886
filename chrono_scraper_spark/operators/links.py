"""Link extraction and anchor-text aggregation over crawled HTML.

The web-graph ingestion step the reference leaves to Wayback (its CDX
discovery already knows every URL): parse ``<a href>`` tags out of raw
page HTML, resolve them against the source page, and aggregate anchor
text per target — the inputs both to ``graph.host_authority`` (real
host edges instead of a synthetic formula) and to anchor-text document
expansion (the classic web-search signal: what OTHER pages call a URL).

Everything is JVM-side regexp/array expressions — no UDF, no shuffle in
``extract_links`` itself (one ``Generate`` per page for the tag explode);
``anchor_text_counts`` adds the one hash aggregation on the target key.
The tag regex deliberately uses only RE2-compatible constructs
((?is) flags, lazy quantifiers, character classes — no backrefs) so the
DuckDB oracle runs the byte-identical pattern.

Href policy (documented, conservative):
* absolute ``http(s)://`` hrefs kept as-is;
* root-relative ``/path`` resolved as ``https://<src_host><path>``;
* fragments, ``mailto:``, ``javascript:``, empty, and bare-relative
  (``page.html``) hrefs are dropped — bare-relative resolution needs the
  source DIRECTORY, which reference crawls don't track either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TAG_RE = r"(?is)<a\s[^>]*>.*?</a>"
HREF_RE = "(?i)href\\s*=\\s*[\"']([^\"']*)[\"']"
INNER_RE = r"(?is)^<a[^>]*>(.*)</a>$"
REL_RE = "(?i)rel\\s*=\\s*[\"']([^\"']*)[\"']"
META_ROBOTS_RE = r"(?is)<meta\s[^>]*name\s*=\s*[\"']robots[\"'][^>]*>"
META_CONTENT_RE = "(?i)content\\s*=\\s*[\"']([^\"']*)[\"']"


def _norm_anchor(inner: Column) -> Column:
    """Strip nested tags, lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(
        F.lower(F.regexp_replace(inner, r"<[^>]*>", "")), r"\s+", " "))


def extract_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url",
                  host_col: str = "host") -> DataFrame:
    """One row per resolvable ``<a href>`` tag:
    (src_url, src_host, href, anchor_text, dst_url, dst_host, nofollow).
    ``nofollow`` is the per-link ``rel="nofollow"`` token (REP page-level
    directives live in ``meta_robots``); graph/spider consumers decide
    whether to honor it — extraction only reports it."""
    html = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(html, F.lit(TAG_RE), F.lit(0))
    # rel= must come from the OPENING tag only — the anchor's visible text
    # may mention rel="nofollow" without the link carrying it
    open_tag = F.regexp_extract("tag", r"(?is)^<a[^>]*>", 0)
    rel_norm = F.concat(
        F.lit(","),
        F.regexp_replace(F.lower(F.regexp_extract(open_tag, REL_RE, 1)),
                         r"[\s]+", ","),
        F.lit(","))
    out = (pages
           .select(F.col(url_col).alias("src_url"),
                   F.col(host_col).alias("src_host"),
                   F.explode(tags).alias("tag"))
           .withColumn("href", F.regexp_extract(open_tag, HREF_RE, 1))
           .withColumn("nofollow", rel_norm.contains(",nofollow,"))
           .withColumn("anchor_text",
                       _norm_anchor(F.regexp_extract("tag", INNER_RE, 1)))
           .filter((F.col("href") != "")
                   & ~F.col("href").startswith("#")
                   & ~F.lower("href").startswith("mailto:")
                   & ~F.lower("href").startswith("javascript:")))
    dst_url = (F.when(F.col("href").rlike("(?i)^https?://"), F.col("href"))
               .when(F.col("href").startswith("/"),
                     F.concat(F.lit("https://"), F.col("src_host"),
                              F.col("href"))))
    return (out.withColumn("dst_url", dst_url)
            .filter(F.col("dst_url").isNotNull())
            .withColumn("dst_host",
                        F.regexp_extract("dst_url", r"^https?://([^/]+)", 1))
            .drop("tag"))


def anchor_text_counts(links: DataFrame) -> DataFrame:
    """Anchor-text aggregation per target URL: how the web describes each
    page. (dst_url, anchor_text, n_links, n_src_hosts) — one hash
    aggregation on (dst_url, anchor_text), map-side partials; at corpus
    scale the shuffle carries (url, short string, partial counts), never
    page content. Empty anchors (image links) are excluded."""
    return (links.filter(F.col("anchor_text") != "")
            .groupBy("dst_url", "anchor_text")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.count_distinct("src_host").alias("n_src_hosts")))


def meta_robots(pages: DataFrame, html_col: str = "html",
                url_col: str = "url") -> DataFrame:
    """Page-level Robots-Exclusion-Protocol directives from
    ``<meta name="robots" content="...">``: (url, noindex, nofollow).

    ``noindex`` → the page may be fetched but must not enter the search
    index (compose: ``pages_out.join(meta_robots(pages).filter("noindex")
    .select("url"), "url", "left_anti")`` before ``build_page_index``);
    ``nofollow`` → none of the page's links may seed further crawling.
    ``none`` implies both (Google/REP
    convention). ALL robots meta tags combine (REP: directives are the
    union across tags), and tokens may be comma- or space-separated.
    Pure codegen regexp/contains — no UDF — and byte-replayable in the
    DuckDB oracle. Absent tag → both false."""
    html = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(html, F.lit(META_ROBOTS_RE), F.lit(0))
    contents = F.transform(
        tags, lambda t: F.regexp_extract(t, META_CONTENT_RE, 1))
    content = F.concat(
        F.lit(","),
        F.regexp_replace(F.lower(F.array_join(contents, ",")),
                         r"[\s]+", ","),
        F.lit(","))
    return pages.select(
        F.col(url_col).alias("url"),
        (content.contains(",noindex,")
         | content.contains(",none,")).alias("noindex"),
        (content.contains(",nofollow,")
         | content.contains(",none,")).alias("nofollow"))


LINK_CANONICAL_RE = (r"(?is)<link\s[^>]*rel\s*=\s*[\"']canonical[\"']"
                     r"[^>]*>")


def rel_canonical(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url",
                  host_col: str = "host") -> DataFrame:
    """``<link rel="canonical" href="...">`` per page:
    (url, canonical_url) with the same conservative href policy as
    ``extract_links`` (absolute kept, root-relative resolved against the
    page host, anything else → NULL). Pages without the tag (or with an
    unresolvable href) carry canonical_url = url — the identity default
    that makes the output directly usable as a collapse key:
    ``pages.join(rel_canonical(pages), "url").groupBy("canonical_url")``
    is the duplicate-content collapse search engines apply, and composes
    with ``dedup.collapse_digest`` / ``analytics.surt_collapse`` (which
    canonicalize syntactically where this uses the author's own
    declaration)."""
    html = F.col(html_col).cast("string")
    tag = F.regexp_extract(html, LINK_CANONICAL_RE, 0)
    href = F.regexp_extract(tag, HREF_RE, 1)
    resolved = (F.when(href.rlike("(?i)^https?://"), href)
                .when(href.startswith("/"),
                      F.concat(F.lit("https://"), F.col(host_col), href)))
    return pages.select(
        F.col(url_col).alias("url"),
        F.coalesce(resolved, F.col(url_col)).alias("canonical_url"))
