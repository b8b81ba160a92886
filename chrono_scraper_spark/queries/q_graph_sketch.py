"""Sketches (quantile/HLL/CMS), link graph, HITS/OPIC/PageRank, frontier priority, traps.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import PAGES_CTE_DUCK, cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.functions import textops as T

from ._shared import _t


def q_quantile_sketch(spark, sf_dir):
    """Mergeable deterministic quantile sketch (operators/analytics.py
    ``log2_quantile_sketch``): power-of-two histogram over content
    length, p50/p90/p99 estimates as bin upper bounds. Sketch state is
    ≤65 longs — map-side combinable and bit-identical across engines,
    unlike percentile_approx's KLL state. Exact twin: status_percentiles
    (A7) stays the small-N path."""
    from chrono_scraper_spark.operators.analytics import (
        log2_quantile_sketch,
    )

    pages = cdx_pages_view(spark, sf_dir)
    return log2_quantile_sketch(pages.select("length"), "length",
                                (50, 90, 99))

SQL_QUANTILE_SKETCH = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
hist AS (
  SELECT CASE WHEN length <= 0 THEN 0
              ELSE CAST(length(bin(length)) AS INT) END AS bin,
         count(*) AS cnt
  FROM pages_cdx GROUP BY 1),
cum AS (
  SELECT bin,
    CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum_count,
    CAST((SELECT sum(cnt) FROM hist) AS BIGINT) AS n
  FROM hist),
t AS (
  SELECT q.q, c.bin, c.cum_count, c.n
  FROM cum c CROSS JOIN (VALUES (50), (90), (99)) q(q)
  WHERE c.cum_count * 100 >= q.q * c.n),
best AS (SELECT q, min(bin) AS bin FROM t GROUP BY q)
SELECT CAST(b.q AS INT) AS q, b.bin,
  CAST(CASE WHEN b.bin = 0 THEN 0
            ELSE (CAST(1 AS BIGINT) << b.bin) - 1 END AS BIGINT)
    AS upper_bound,
  c.cum_count, c.n
FROM best b JOIN cum c ON b.bin = c.bin"""

def q_hll_distinct(spark, sf_dir):
    """Deterministic mergeable HyperLogLog (operators/analytics.py
    ``hll_distinct``): per-host approximate COUNT(DISTINCT url), p=8.
    md5-derived buckets/rhos make registers AND estimate bit-identical
    cross-engine (Spark's approx_count_distinct state is neither); the
    harmonic sum is exact-integer so the single double division sees
    identical operands. Exact twins stay the small-N path (A8/A10
    countDistinct)."""
    from chrono_scraper_spark.operators.analytics import hll_distinct

    pages = cdx_pages_view(spark, sf_dir)
    return hll_distinct(pages.select("host", "url"), "url",
                        keys=("host",))

SQL_HLL_DISTINCT = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
h AS (SELECT host, md5(url) AS hh FROM pages_cdx),
rr AS (
  SELECT host,
    (strpos('0123456789abcdef', substring(hh, 1, 1)) - 1) * 16
      + strpos('0123456789abcdef', substring(hh, 2, 1)) - 1 AS bucket,
    CASE WHEN regexp_replace(substring(hh, 3, 14), '^0+', '') = ''
         THEN 57
         ELSE (14 - length(regexp_replace(substring(hh, 3, 14),
                                          '^0+', ''))) * 4
              + CASE WHEN strpos('0123456789abcdef',
                       substring(regexp_replace(substring(hh, 3, 14),
                                 '^0+', ''), 1, 1)) - 1 >= 8 THEN 0
                     WHEN strpos('0123456789abcdef',
                       substring(regexp_replace(substring(hh, 3, 14),
                                 '^0+', ''), 1, 1)) - 1 >= 4 THEN 1
                     WHEN strpos('0123456789abcdef',
                       substring(regexp_replace(substring(hh, 3, 14),
                                 '^0+', ''), 1, 1)) - 1 >= 2 THEN 2
                     ELSE 3 END + 1 END AS rho
  FROM h),
regs AS (SELECT host, bucket, max(rho) AS register
         FROM rr GROUP BY host, bucket),
agg AS (SELECT host, count(*) AS nb,
          sum(((1::BIGINT << (57 - register)))::HUGEINT) AS s
        FROM regs GROUP BY host),
fin AS (SELECT host,
          s + (256 - nb)::HUGEINT * ((1::BIGINT << 57))::HUGEINT AS st,
          256 - nb AS v
        FROM agg)
SELECT host,
  CAST(floor(CASE WHEN 0.7213 / (1 + 1.079 / 256) * 256 * 256
                       * power(2, 57) / CAST(st AS DOUBLE) <= 2.5 * 256
                       AND v > 0
                  THEN 256 * ln(256 / CAST(v AS DOUBLE))
                  ELSE 0.7213 / (1 + 1.079 / 256) * 256 * 256
                       * power(2, 57) / CAST(st AS DOUBLE) END
             + 0.5) AS BIGINT) AS est_distinct
FROM fin"""

def q_cms_host_counts(spark, sf_dir):
    """Deterministic mergeable count-min sketch (operators/analytics.py
    ``cms_build``/``cms_query``, d=4 w=1024): per-host capture-count
    estimates — min over the host's 4 salted-md5 cells, overestimate-only.
    Sketch state is ≤ d·w longs regardless of corpus size; states merge
    by cell addition. The exact twin is a plain count(*) groupBy; the
    sketch is the shape that survives 10^10 keys."""
    from chrono_scraper_spark.operators.analytics import (
        cms_build,
        cms_query,
    )

    pages = cdx_pages_view(spark, sf_dir).select("host")
    return cms_query(cms_build(pages, "host"), pages, "host")

_CMS_BUCKET = """((strpos('0123456789abcdef', substring({h}, 1, 1)) - 1)
      * 256
      + (strpos('0123456789abcdef', substring({h}, 2, 1)) - 1) * 16
      + strpos('0123456789abcdef', substring({h}, 3, 1)) - 1) % 1024"""

SQL_CMS_HOST_COUNTS = (
    f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
rows_t AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
hx AS (SELECT r, md5(r::VARCHAR || ':' || host) AS h
       FROM pages_cdx CROSS JOIN rows_t),
cells AS (SELECT r, """ + _CMS_BUCKET.format(h="h") + """ AS col_bucket,
    count(*) AS cnt
  FROM hx GROUP BY 1, 2),
qc AS (SELECT q.host, r.r AS r,
    """ + _CMS_BUCKET.format(h="md5(r.r::VARCHAR || ':' || q.host)")
    + """ AS col_bucket
  FROM (SELECT DISTINCT host FROM pages_cdx) q CROSS JOIN rows_t r)
SELECT q.host, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
FROM qc q LEFT JOIN cells c
  ON q.r = c.r AND q.col_bucket = c.col_bucket
GROUP BY q.host""")

def q_url_tree(spark, sf_dir):
    """Hierarchical path-prefix rollup (operators/analytics.py
    ``url_tree_stats``): per (host, depth≤3, '/seg1/…/') — distinct URLs,
    captures, distinct digests. Bounded explode (≤3 prefixes/row), one
    agg; the oracle replays it with a 3-row depth VALUES join."""
    from chrono_scraper_spark.operators.analytics import url_tree_stats

    return url_tree_stats(cdx_pages_view(spark, sf_dir), max_depth=3)

SQL_URL_TREE = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
segd AS (
  SELECT host, url, digest,
    list_filter(string_split(string_split_regex(path, '\\?')[1], '/'),
                s -> s <> '') AS segs
  FROM pages_cdx
),
expl AS (
  SELECT host, url, digest, d.d AS depth,
    '/' || array_to_string(segs[1:d.d], '/') || '/' AS prefix
  FROM segd CROSS JOIN (VALUES (1), (2), (3)) d(d)
  WHERE d.d <= least(len(segs), 3)
)
SELECT host, CAST(depth AS INT) AS depth, prefix,
  count(DISTINCT url) AS n_urls,
  count(*) AS n_captures,
  count(DISTINCT digest) AS n_digests
FROM expl GROUP BY host, depth, prefix"""

def q_hits(spark, sf_dir):
    """HITS hubs & authorities (operators/graph.py::hits, 3 iterations)
    over the same deterministic k-formula link graph as host_authority.
    Integer arithmetic with overflow-safe shift-divide L1 normalization
    (score = raw DIV max(1, ceil(Σraw/SCALE))) — bit-identical to the
    oracle's chained CTEs; hub updates read the SAME-iteration (new)
    authority scores per Kleinberg's alternation."""
    from chrono_scraper_spark.operators import graph as G

    pages = cdx_pages_view(spark, sf_dir)
    k = (F.col("doc_id") * 7 + 3) % 500
    dst = (F.when(k % 3 == 0, F.lit("mega.example.com"))
           .when(k % 20 == 1, F.concat(F.lit("univ"),
                                       (k % 4).cast("string"),
                                       F.lit(".edu")))
           .when(k % 20 == 2, F.concat(F.lit("agency"),
                                       (k % 3).cast("string"),
                                       F.lit(".gov")))
           .otherwise(F.concat(F.lit("site"), (k % 40).cast("string"),
                               F.lit(".com"))))
    edges = pages.select(F.col("host").alias("src"),
                         dst.alias("dst")).distinct()
    return G.hits(edges, iters=3)

_HITS_SCALE = 10**12

def _hits_iter_cte(i: int) -> str:
    """One HITS iteration: auth from previous hubs, hub from NEW auths,
    each shift-divide normalized. s{i} -> s{i+1}. Every CTE is
    MATERIALIZED: each is referenced 2-3× (the scalar normalization
    subquery plus the next CTE), and without the hint DuckDB inlines the
    whole chain per reference — exponential re-evaluation across the 3
    iterations (>120 s at sf0.01; 0.06 s materialized)."""
    sc, c = _HITS_SCALE, _HITS_SCALE - 1
    return f"""ar{i} AS MATERIALIZED (
  SELECT e.dst AS host, CAST(sum(s.hub_nano) AS BIGINT) AS raw
  FROM edges e JOIN s{i} s ON e.src = s.host GROUP BY e.dst),
an{i} AS MATERIALIZED (
  SELECT host, raw // greatest(CAST(1 AS BIGINT),
    ((SELECT CAST(sum(raw) AS BIGINT) FROM ar{i}) + {c}) // {sc})
    AS auth_nano
  FROM ar{i}),
hr{i} AS MATERIALIZED (
  SELECT e.src AS host, CAST(sum(a.auth_nano) AS BIGINT) AS raw
  FROM edges e JOIN an{i} a ON e.dst = a.host GROUP BY e.src),
hn{i} AS MATERIALIZED (
  SELECT host, raw // greatest(CAST(1 AS BIGINT),
    ((SELECT CAST(sum(raw) AS BIGINT) FROM hr{i}) + {c}) // {sc})
    AS hub_nano
  FROM hr{i}),
s{i + 1} AS MATERIALIZED (
  SELECT h.host,
    CAST(coalesce(hn.hub_nano, 0) AS BIGINT) AS hub_nano,
    CAST(coalesce(an.auth_nano, 0) AS BIGINT) AS auth_nano
  FROM hosts h LEFT JOIN hn{i} hn ON h.host = hn.host
  LEFT JOIN an{i} an ON h.host = an.host)"""

SQL_HITS = (f"WITH pages_cdx AS MATERIALIZED ({PAGES_CTE_DUCK}),\n"
            + """
ek AS MATERIALIZED (
  SELECT host AS src, (doc_id * 7 + 3) % 500 AS k FROM pages_cdx),
edges0 AS MATERIALIZED (
  SELECT DISTINCT src,
    CASE WHEN k % 3 = 0 THEN 'mega.example.com'
         WHEN k % 20 = 1 THEN 'univ' || CAST(k % 4 AS VARCHAR) || '.edu'
         WHEN k % 20 = 2 THEN 'agency' || CAST(k % 3 AS VARCHAR) || '.gov'
         ELSE 'site' || CAST(k % 40 AS VARCHAR) || '.com' END AS dst
  FROM ek),
edges AS MATERIALIZED (SELECT src, dst FROM edges0 WHERE src <> dst),
hosts AS MATERIALIZED (
  SELECT src AS host FROM edges0 UNION SELECT dst FROM edges0),
s0 AS MATERIALIZED (SELECT host,
  CAST((SELECT 1000000000000 // count(*) FROM hosts) AS BIGINT) AS hub_nano,
  CAST((SELECT 1000000000000 // count(*) FROM hosts) AS BIGINT) AS auth_nano
  FROM hosts),
""" + ",\n".join(_hits_iter_cte(i) for i in range(3))
            + "\nSELECT host, hub_nano, auth_nano FROM s3")

def _pagerank_iter_cte(i: int) -> str:
    return f"""r{i + 1} AS MATERIALIZED (
  SELECT h.host,
    CAST((SELECT (1000000000000 * 15) // (100 * count(*)) FROM hosts)
         + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank_nano
  FROM hosts h LEFT JOIN (
    SELECT e.dst AS host, sum(r.rank_nano // o.outdeg) AS s
    FROM edges e JOIN r{i} r ON e.src = r.host
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst) s ON h.host = s.host)"""

SQL_HOST_AUTHORITY = (f"WITH pages_cdx AS MATERIALIZED "
                      f"({PAGES_CTE_DUCK}),\n"
                      + """
ek AS MATERIALIZED (
  SELECT host AS src, (doc_id * 7 + 3) % 500 AS k FROM pages_cdx),
edges0 AS MATERIALIZED (
  SELECT DISTINCT src,
    CASE WHEN k % 3 = 0 THEN 'mega.example.com'
         WHEN k % 20 = 1 THEN 'univ' || CAST(k % 4 AS VARCHAR) || '.edu'
         WHEN k % 20 = 2 THEN 'agency' || CAST(k % 3 AS VARCHAR) || '.gov'
         ELSE 'site' || CAST(k % 40 AS VARCHAR) || '.com' END AS dst
  FROM ek),
edges AS MATERIALIZED (SELECT src, dst FROM edges0 WHERE src <> dst),
hosts AS MATERIALIZED (
  SELECT src AS host FROM edges0 UNION SELECT dst FROM edges0),
outdeg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT host,
  CAST((SELECT 1000000000000 // count(*) FROM hosts) AS BIGINT) AS rank_nano
  FROM hosts),
""" + ",\n".join(_pagerank_iter_cte(i) for i in range(5))
                      + "\nSELECT host, rank_nano FROM r5")

SQL_AUTHORITY_BUDGETS = (
    SQL_HOST_AUTHORITY.replace(
        "\nSELECT host, rank_nano FROM r5", "") + """,
q AS (
  SELECT host,
    (1000 * rank_nano) // (SELECT sum(rank_nano) FROM r5) AS base,
    (1000 * rank_nano) % (SELECT sum(rank_nano) FROM r5) AS rem
  FROM r5),
lft AS (SELECT 1000 - sum(base) AS l FROM q),
pos AS (SELECT host, base, rem,
  row_number() OVER (ORDER BY rem DESC, host ASC) AS p FROM q)
SELECT host,
  CAST(greatest(1, base + CASE WHEN p <= (SELECT l FROM lft)
                               THEN 1 ELSE 0 END) AS INT) AS budget
FROM pos""")

def _linked_pages(spark, sf_dir):
    """Pages with a deterministically constructed html column containing a
    mix of link shapes: nav links (root-relative, both quote styles), one
    cross-host absolute link (the host_authority k-formula target), an
    optional local link with a NESTED tag in the anchor, and a fragment +
    mailto link that extraction must drop."""
    pages = cdx_pages_view(spark, sf_dir)
    k = (F.col("doc_id") * 7 + 3) % 500
    dst_host = (F.when(k % 3 == 0, F.lit("mega.example.com"))
                .when(k % 20 == 1, F.concat(F.lit("univ"),
                                            (k % 4).cast("string"),
                                            F.lit(".edu")))
                .when(k % 20 == 2, F.concat(F.lit("agency"),
                                            (k % 3).cast("string"),
                                            F.lit(".gov")))
                .otherwise(F.concat(F.lit("site"), (k % 40).cast("string"),
                                    F.lit(".com"))))
    w1 = F.element_at(F.split(F.coalesce(F.col("text"), F.lit("")), " "), 1)
    html = F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> '
              "<a href='/blog/'>blog  index</a></nav><p>see "
              '<a href="https://'),
        dst_host, F.lit("/ref-"), (F.col("doc_id") % 97).cast("string"),
        F.lit('">'), w1, F.lit(" guide</a></p>"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('<a rel="nofollow" href="/local/page-'),
                        (F.col("doc_id") % 50).cast("string"),
                        F.lit('">local <b>'), w1, F.lit("</b></a>")))
        .otherwise(F.lit("")),
        F.lit('<a href="#top">top</a>'
              '<a href="mailto:x@example.com">mail</a></body></html>'))
    return pages.withColumn("html", html)

_LINKED_HTML_DUCK = """
'<html><body><nav><a href="/">Home</a> ' ||
'<a href=''/blog/''>blog  index</a></nav><p>see ' ||
'<a href="https://' ||
CASE WHEN (doc_id * 7 + 3) % 500 % 3 = 0 THEN 'mega.example.com'
     WHEN (doc_id * 7 + 3) % 500 % 20 = 1
       THEN 'univ' || CAST((doc_id * 7 + 3) % 500 % 4 AS VARCHAR) || '.edu'
     WHEN (doc_id * 7 + 3) % 500 % 20 = 2
       THEN 'agency' || CAST((doc_id * 7 + 3) % 500 % 3 AS VARCHAR) || '.gov'
     ELSE 'site' || CAST((doc_id * 7 + 3) % 500 % 40 AS VARCHAR) || '.com'
END ||
'/ref-' || CAST(doc_id % 97 AS VARCHAR) || '">' ||
string_split(coalesce(text, ''), ' ')[1] || ' guide</a></p>' ||
CASE WHEN doc_id % 4 = 0
     THEN '<a rel="nofollow" href="/local/page-' || CAST(doc_id % 50 AS VARCHAR) ||
          '">local <b>' || string_split(coalesce(text, ''), ' ')[1] ||
          '</b></a>'
     ELSE '' END ||
'<a href="#top">top</a><a href="mailto:x@example.com">mail</a></body></html>'
"""

_LINKS_CTES = f"""
pages_cdx AS ({PAGES_CTE_DUCK}),
p AS (
  SELECT url AS src_url, host AS src_host, {_LINKED_HTML_DUCK} AS html
  FROM pages_cdx
),
tags AS (
  SELECT src_url, src_host,
    unnest(regexp_extract_all(html, '(?is)<a\\s[^>]*>.*?</a>')) AS tag
  FROM p
),
parsed AS (
  SELECT src_url, src_host,
    regexp_extract(regexp_extract(tag, '(?is)^<a[^>]*>', 0), '(?i)href\\s*=\\s*["'']([^"'']*)["'']', 1) AS href,
    (',' || regexp_replace(
       lower(regexp_extract(regexp_extract(tag, '(?is)^<a[^>]*>', 0), '(?i)rel\\s*=\\s*["'']([^"'']*)["'']', 1)),
       '\\s+', ',', 'g') || ',') LIKE '%,nofollow,%' AS nofollow,
    trim(regexp_replace(
      lower(regexp_replace(
        regexp_extract(tag, '(?is)^<a[^>]*>(.*)</a>$', 1),
        '<[^>]*>', '', 'g')),
      '\\s+', ' ', 'g')) AS anchor_text
  FROM tags
),
kept AS (
  SELECT * FROM parsed
  WHERE href <> '' AND href NOT LIKE '#%'
    AND lower(href) NOT LIKE 'mailto:%'
    AND lower(href) NOT LIKE 'javascript:%'
),
resolved AS (
  SELECT src_url, src_host, href, anchor_text, nofollow,
    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
         WHEN href LIKE '/%' THEN 'https://' || src_host || href
    END AS dst_url
  FROM kept
),
links AS (
  SELECT src_url, src_host, href, anchor_text, nofollow, dst_url,
    regexp_extract(dst_url, '^https?://([^/]+)', 1) AS dst_host
  FROM resolved WHERE dst_url IS NOT NULL
)"""

def q_link_extract(spark, sf_dir):
    """Link extraction over page HTML (operators/links.py): one row per
    resolvable <a href> tag with normalized anchor text, href-policy
    resolution, and target host — the web-graph ingestion pass. JVM
    regexp/array expressions only (RE2-compatible pattern, byte-identical
    in the DuckDB oracle)."""
    from chrono_scraper_spark.operators.links import extract_links

    return extract_links(_linked_pages(spark, sf_dir)).select(
        "src_url", "src_host", "href", "anchor_text", "dst_url", "dst_host")

SQL_LINK_EXTRACT = ("WITH " + _LINKS_CTES + """
SELECT src_url, src_host, href, anchor_text, dst_url, dst_host FROM links""")

def q_links_nofollow(spark, sf_dir):
    """Per-link ``rel="nofollow"`` reporting (operators/links.py): the
    planted local link carries the token; a link-graph consumer can
    drop such edges without re-parsing html. Same RE2-safe tag pass as
    link_extract — the flag is one rel-extraction + token membership on
    a comma-normalized string."""
    from chrono_scraper_spark.operators.links import extract_links

    return extract_links(_linked_pages(spark, sf_dir)).select(
        "src_url", "href", "dst_url", "nofollow")

SQL_LINKS_NOFOLLOW = ("WITH " + _LINKS_CTES + """
SELECT src_url, href, dst_url, nofollow FROM links""")

def q_meta_robots(spark, sf_dir):
    """Page-level REP directives (operators/links.py::meta_robots):
    <meta name="robots"> parsed to (url, noindex, nofollow), 'none'
    implying both, absent tag implying neither — planted across both
    quote styles and all four directive shapes."""
    from chrono_scraper_spark.operators.links import meta_robots

    pages = cdx_pages_view(spark, sf_dir)
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(F.col("doc_id") % 5 == 1,
              F.lit("<meta name='robots' content='nofollow'>"))
        .when(F.col("doc_id") % 5 == 2,
              F.lit('<meta name="robots" content="none">'))
        .when(F.col("doc_id") % 5 == 3,
              F.lit('<meta name="robots" content="index, follow">'))
        .otherwise(F.lit("")),
        F.lit("</head><body></body></html>"))
    return meta_robots(pages.withColumn("html", html))

SQL_META_ROBOTS = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
p AS (
  SELECT url, '<html><head>' ||
    CASE WHEN doc_id % 5 = 0
           THEN '<meta name="robots" content="noindex, nofollow">'
         WHEN doc_id % 5 = 1
           THEN '<meta name=''robots'' content=''nofollow''>'
         WHEN doc_id % 5 = 2 THEN '<meta name="robots" content="none">'
         WHEN doc_id % 5 = 3
           THEN '<meta name="robots" content="index, follow">'
         ELSE '' END || '</head><body></body></html>' AS html
  FROM pages_cdx),
t AS (
  SELECT url,
    regexp_extract_all(html,
      '(?is)<meta\\s[^>]*name\\s*=\\s*["'']robots["''][^>]*>') AS tags
  FROM p),
c AS (
  SELECT url,
    ',' || regexp_replace(
      lower(coalesce(array_to_string(list_transform(tags, t ->
        regexp_extract(t,
          '(?i)content\\s*=\\s*["'']([^"'']*)["'']', 1)), ','), '')),
      '\\s+', ',', 'g') || ',' AS content
  FROM t)
SELECT url,
  (content LIKE '%,noindex,%' OR content LIKE '%,none,%') AS noindex,
  (content LIKE '%,nofollow,%' OR content LIKE '%,none,%') AS nofollow
FROM c"""

def q_rel_canonical(spark, sf_dir):
    """Author-declared canonical URLs (operators/links.py::
    rel_canonical): <link rel="canonical"> resolved under the
    extract_links href policy, identity default when absent — the
    collapse key search engines use for duplicate content. Planted:
    every 3rd page declares an absolute canonical, every 7th a
    root-relative one, others none."""
    from chrono_scraper_spark.operators.links import rel_canonical

    pages = cdx_pages_view(spark, sf_dir)
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit('<link rel="canonical" href="https://'),
                        F.col("host"), F.lit("/canon-"),
                        (F.col("doc_id") % 11).cast("string"),
                        F.lit('">')))
        .when(F.col("doc_id") % 7 == 0,
              F.concat(F.lit("<link rel='canonical' href='/c/"),
                       (F.col("doc_id") % 13).cast("string"),
                       F.lit("'>")))
        .otherwise(F.lit("")),
        F.lit("</head><body></body></html>"))
    return rel_canonical(pages.withColumn("html", html))

SQL_REL_CANONICAL = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
p AS (
  SELECT url, host, '<html><head>' ||
    CASE WHEN doc_id % 3 = 0
           THEN '<link rel="canonical" href="https://' || host ||
                '/canon-' || CAST(doc_id % 11 AS VARCHAR) || '">'
         WHEN doc_id % 7 = 0
           THEN '<link rel=''canonical'' href=''/c/' ||
                CAST(doc_id % 13 AS VARCHAR) || '''>'
         ELSE '' END || '</head><body></body></html>' AS html
  FROM pages_cdx),
t AS (
  SELECT url, host,
    regexp_extract(regexp_extract(html,
        '(?is)<link\\s[^>]*rel\\s*=\\s*["'']canonical["''][^>]*>', 0),
      '(?i)href\\s*=\\s*["'']([^"'']*)["'']', 1) AS href
  FROM p)
SELECT url,
  coalesce(CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
                WHEN href LIKE '/%' THEN 'https://' || host || href
           END, url) AS canonical_url
FROM t"""

def q_anchor_texts(spark, sf_dir):
    """Anchor-text aggregation per target URL (how the web describes each
    page — the classic document-expansion signal): one hash agg on
    (dst_url, anchor_text) with map-side partials."""
    from chrono_scraper_spark.operators.links import (
        anchor_text_counts,
        extract_links,
    )

    return anchor_text_counts(extract_links(_linked_pages(spark, sf_dir)))

SQL_ANCHOR_TEXTS = ("WITH " + _LINKS_CTES + """
SELECT dst_url, anchor_text, CAST(count(*) AS BIGINT) AS n_links,
  CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
FROM links WHERE anchor_text <> ''
GROUP BY dst_url, anchor_text""")

def q_sitemap_discover(spark, sf_dir):
    """Sitemap-XML discovery + lastmod recrawl candidacy
    (operators/sitemaps.py): per-host urlset bodies are deterministically
    constructed (one <url> block per distinct URL; every 5th URL claims a
    lastmod AFTER its last capture → stale, every 5th+1 an old date-only
    lastmod → fresh, plus one sitemap-only URL per host → new), parsed
    with the RE2-shared regexes, and joined against the capture log."""
    from chrono_scraper_spark.operators.sitemaps import (
        parse_sitemaps,
        sitemap_recrawl_status,
    )

    pages = cdx_pages_view(spark, sf_dir)
    per_url = pages.groupBy("host", "url", "doc_id").agg(
        F.max("warc_ts").alias("mx"))
    lm = (F.when(F.col("doc_id") % 5 == 0,
                 F.date_format(F.date_add(F.to_date("mx"), 400),
                               "yyyy-MM-dd"))
          .when(F.col("doc_id") % 5 == 1,
                F.date_format(F.date_add(F.to_date("mx"), -400),
                              "yyyy-MM-dd")))
    block = F.concat(
        F.lit("<url><loc>"), F.col("url"), F.lit("</loc>"),
        F.coalesce(F.concat(F.lit("<lastmod>"), lm, F.lit("</lastmod>")),
                   F.lit("")),
        F.lit("</url>"))
    bodies = (per_url.select("host", block.alias("b"))
              .groupBy("host")
              .agg(F.concat(
                  F.lit('<?xml version="1.0"?><urlset>'),
                  F.concat_ws("", F.array_sort(F.collect_list("b"))),
                  F.lit("<url><loc>https://"), F.col("host"),
                  F.lit("/sitemap-only-1</loc>"
                        "<lastmod>2022-01-01</lastmod></url></urlset>"))
                  .alias("body")))
    entries = parse_sitemaps(bodies)
    return sitemap_recrawl_status(entries, pages)

SQL_SITEMAP_DISCOVER = f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK}),
per_url AS (
  SELECT host, url, doc_id, max(warc_ts) AS mx
  FROM pages_cdx GROUP BY 1, 2, 3
),
blocks AS (
  SELECT host,
    '<url><loc>' || url || '</loc>' ||
    coalesce('<lastmod>' ||
      CASE WHEN doc_id % 5 = 0
             THEN strftime(CAST(mx AS DATE) + 400, '%Y-%m-%d')
           WHEN doc_id % 5 = 1
             THEN strftime(CAST(mx AS DATE) - 400, '%Y-%m-%d')
      END || '</lastmod>', '') ||
    '</url>' AS b
  FROM per_url
),
bodies AS (
  SELECT host,
    '<?xml version="1.0"?><urlset>' ||
    string_agg(b, '' ORDER BY b) ||
    '<url><loc>https://' || host || '/sitemap-only-1</loc>' ||
    '<lastmod>2022-01-01</lastmod></url></urlset>' AS body
  FROM blocks GROUP BY host
),
ub AS (
  SELECT host,
    unnest(regexp_extract_all(body, '(?is)<url>.*?</url>')) AS block
  FROM bodies
),
entries AS (
  SELECT host,
    regexp_extract(block, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
    nullif(regexp_extract(block,
      '(?is)<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') AS lastmod
  FROM ub
  WHERE regexp_extract(block, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1) <> ''
),
last AS (
  SELECT url, max(strftime(warc_ts, '%Y%m%d%H%M%S')) AS last_ts14
  FROM pages_cdx GROUP BY url
),
j AS (
  SELECT e.loc AS url, e.lastmod, l.last_ts14
  FROM entries e LEFT JOIN last l ON e.loc = l.url
)
SELECT url, lastmod, last_ts14 AS last_capture_ts14,
  CASE WHEN last_ts14 IS NULL THEN 'new'
       WHEN lastmod IS NOT NULL AND lastmod >
         (substring(last_ts14, 1, 4) || '-' || substring(last_ts14, 5, 2)
          || '-' || substring(last_ts14, 7, 2) || 'T'
          || substring(last_ts14, 9, 2) || ':' || substring(last_ts14, 11, 2)
          || ':' || substring(last_ts14, 13, 2)) THEN 'stale'
       ELSE 'fresh' END AS status
FROM j"""

def q_url_traps(spark, sf_dir):
    """Crawl-trap URL flags (operators/traps.py): repeated path segments,
    depth, query-param explosion, calendar paths — one zero-shuffle
    projection over the frontier, plus planted trap URLs so every flag
    family fires. Both engines derive the same planted rows."""
    from chrono_scraper_spark.operators.traps import url_trap_flags

    pages = cdx_pages_view(spark, sf_dir).select("url", "doc_id")
    n = F.col("doc_id")
    planted = pages.filter(n % 50 == 0).select(
        F.concat(
            F.lit("https://trap.example"),
            F.when(n % 4 == 0,
                   F.lit("/a/b/a/b/a/b/page"))          # repeated segment
            .when(n % 4 == 1,
                  F.lit("/d/d/d/d/d/d/d/d/d/d/d/d/d"))  # deep + repeated
            .when(n % 4 == 2, F.concat(
                F.lit("/x?"),
                F.lit("p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7")))  # params
            .otherwise(F.lit("/2021/05/04/2022/06/07/post"))   # calendar
        ).alias("url"), (n + 1_000_000).alias("doc_id"))
    return (url_trap_flags(pages.unionByName(planted))
            .select("url", "doc_id", "repeated_segment", "too_deep",
                    "too_many_params", "calendar_path", "is_trap_url"))

SQL_URL_TRAPS = f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK}),
base AS (
  SELECT url, doc_id FROM pages_cdx
  UNION ALL
  SELECT 'https://trap.example' ||
    CASE WHEN doc_id % 4 = 0 THEN '/a/b/a/b/a/b/page'
         WHEN doc_id % 4 = 1 THEN '/d/d/d/d/d/d/d/d/d/d/d/d/d'
         WHEN doc_id % 4 = 2 THEN '/x?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7'
         ELSE '/2021/05/04/2022/06/07/post' END AS url,
    doc_id + 1000000 AS doc_id
  FROM pages_cdx WHERE doc_id % 50 = 0
),
parts AS (
  SELECT url, doc_id,
    coalesce(nullif(regexp_extract(url, '^https?://[^/]*(/[^?#]*)', 1),
                    ''), '/') AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM base
),
segd AS (
  SELECT url, doc_id, q,
    list_filter(string_split(path, '/'), s -> s <> '') AS segs
  FROM parts
),
flags AS (
  SELECT url, doc_id,
    list_max(list_concat([0], list_transform(
      list_distinct(segs),
      d -> len(list_filter(segs, s -> s = d))))) >= 3 AS repeated_segment,
    len(segs) > 12 AS too_deep,
    (CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END) > 6
      AS too_many_params,
    len(list_filter(segs, s -> regexp_matches(s,
      '^(19|20)\\d{{2}}$|^\\d{{1,2}}$|^(19|20)\\d{{2}}-\\d{{2}}(-\\d{{2}})?$')))
      >= 3 AS calendar_path
  FROM segd
)
SELECT url, doc_id, repeated_segment, too_deep, too_many_params,
  calendar_path,
  repeated_segment OR too_deep OR too_many_params OR calendar_path
    AS is_trap_url
FROM flags"""

def q_host_traps(spark, sf_dir):
    """Per-host duplicate-content trap evidence (operators/traps.py):
    urls-per-distinct-digest ratio from the capture log; the mega host's
    shared digests exercise the ratio math."""
    from chrono_scraper_spark.operators.traps import host_trap_stats

    pages = cdx_pages_view(spark, sf_dir)
    # collapse every 4th doc's digest to a shared value so ratios differ
    perturbed = pages.withColumn(
        "digest",
        F.when(F.col("doc_id") % 4 == 0, F.md5(F.lit("shared")))
        .otherwise(F.col("digest")))
    return host_trap_stats(perturbed, min_urls=5, dup_ratio_ppm=1_200_000)

SQL_HOST_TRAPS = f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK}),
p AS (
  SELECT host, url,
    CASE WHEN doc_id % 4 = 0 THEN md5('shared') ELSE digest END AS digest
  FROM pages_cdx
),
per AS (
  SELECT host, CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
    CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct_digests
  FROM p GROUP BY host
)
SELECT host, n_urls, n_distinct_digests,
  CAST(n_urls * 1000000 // n_distinct_digests AS BIGINT)
    AS urls_per_content_ppm,
  n_urls >= 5 AND (n_urls * 1000000 // n_distinct_digests) >= 1200000
    AS dup_content_trap
FROM per"""

def _frontier_inputs(spark, sf_dir):
    """Shared planted inputs for the frontier_priority family: the
    k-formula host link graph (as q_host_authority) and the capture log
    with perturbed digests (as q_recrawl_schedule)."""
    pages = cdx_pages_view(spark, sf_dir)
    k = (F.col("doc_id") * 7 + 3) % 500
    dst = (F.when(k % 3 == 0, F.lit("mega.example.com"))
           .when(k % 20 == 1, F.concat(F.lit("univ"), (k % 4).cast("string"),
                                       F.lit(".edu")))
           .when(k % 20 == 2, F.concat(F.lit("agency"),
                                       (k % 3).cast("string"),
                                       F.lit(".gov")))
           .otherwise(F.concat(F.lit("site"), (k % 40).cast("string"),
                               F.lit(".com"))))
    edges = pages.select(F.col("host").alias("src"), dst.alias("dst")) \
        .distinct()
    perturbed = pages.withColumn(
        "digest",
        F.when(((F.col("doc_id") + F.col("n_cap")) % 3 == 0)
               & (F.col("n_cap") > 0),
               F.md5(F.concat(F.col("digest"),
                              F.col("n_cap").cast("string"))))
        .otherwise(F.col("digest")))
    return perturbed, edges

def q_frontier_priority(spark, sf_dir):
    """Capstone fusion (operators/frontier.py): one crawl priority per
    URL from three engine signals — host authority (integer PageRank
    over the link graph), recrawl staleness (Poisson change-rate × age,
    perturbed digests as in recrawl_schedule), and crawl-trap flags
    (halve the priority of trap-shaped URLs). All-integer arithmetic
    end-to-end, so the fused score is bit-identical to the oracle's CTE
    composition."""
    from chrono_scraper_spark.operators.frontier import frontier_priority

    perturbed, edges = _frontier_inputs(spark, sf_dir)
    return frontier_priority(perturbed, edges, authority="pagerank")

def q_frontier_priority_opic(spark, sf_dir):
    """The same fusion with OPIC as the authority member
    (frontier_priority(authority="opic")): OPIC importance is usable
    the moment a node is first seen, so this is the cold-start spider
    variant of the scheduler — importance accrues WHILE crawling
    instead of needing a converged PageRank over a full snapshot."""
    from chrono_scraper_spark.operators.frontier import frontier_priority

    perturbed, edges = _frontier_inputs(spark, sf_dir)
    return frontier_priority(perturbed, edges, authority="opic")

_FRONTIER_FUSE_SQL = """,
pp AS (
  SELECT url, CAST(epoch(warc_ts) AS BIGINT) AS ts_s,
    CASE WHEN (doc_id + n_cap) % 3 = 0 AND n_cap > 0
         THEN md5(digest || CAST(n_cap AS VARCHAR)) ELSE digest END AS dg
  FROM pages_cdx
),
v AS (
  SELECT url, ts_s, dg,
    lag(dg) OVER (PARTITION BY url ORDER BY ts_s, dg) AS prev
  FROM pp
),
pu AS MATERIALIZED (
  SELECT url,
    CAST(sum(CASE WHEN prev IS NOT NULL AND dg <> prev
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
    CAST(max(ts_s) - min(ts_s) AS BIGINT) AS span_s,
    max(ts_s) AS last_s
  FROM v GROUP BY url
),
nw AS (SELECT max(last_s) AS now_s FROM pu),
stale AS (
  SELECT url,
    CAST(CASE WHEN span_s > 0 THEN (n_changes * 1000000000) // span_s
              ELSE 0 END * (now_s - last_s) AS BIGINT) AS score_e9
  FROM pu CROSS JOIN nw
),
uh AS (SELECT DISTINCT url, host FROM pages_cdx),
parts AS (
  SELECT url, host,
    coalesce(nullif(regexp_extract(url, '^https?://[^/]*(/[^?#]*)', 1),
                    ''), '/') AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM uh
),
segd AS (
  SELECT url, host, q,
    list_filter(string_split(path, '/'), s -> s <> '') AS segs
  FROM parts
),
flags AS (
  SELECT url, host,
    (list_max(list_concat([0], list_transform(
       list_distinct(segs),
       d -> len(list_filter(segs, s -> s = d))))) >= 3
     OR len(segs) > 12
     OR (CASE WHEN q = '' THEN 0
              ELSE len(string_split(q, '&')) END) > 6
     OR len(list_filter(segs, s -> regexp_matches(s,
       '^(19|20)\\d{2}$|^\\d{1,2}$|^(19|20)\\d{2}-\\d{2}(-\\d{2})?$')))
       >= 3) AS is_trap_url
  FROM segd
),
fused AS (
  SELECT f.url, f.host,
    coalesce(a.auth_nano, 0) AS auth_rank_nano,
    coalesce(s.score_e9, 0) AS staleness_e9,
    f.is_trap_url,
    coalesce(s.score_e9, 0) // 1000 + coalesce(a.auth_nano, 0) // 10
      AS base
  FROM flags f
  LEFT JOIN auth a ON f.host = a.host
  LEFT JOIN stale s ON f.url = s.url
)
SELECT url, host, CAST(auth_rank_nano AS BIGINT) AS auth_rank_nano,
  CAST(staleness_e9 AS BIGINT) AS staleness_e9, is_trap_url,
  CAST(CASE WHEN is_trap_url THEN base // 2 ELSE base END AS BIGINT)
    AS priority
FROM fused"""

SQL_FRONTIER_PRIORITY = (f"WITH pages_cdx AS MATERIALIZED "
                         f"({PAGES_CTE_DUCK}),\n"
                         + """
ek AS (SELECT host AS src, (doc_id * 7 + 3) % 500 AS k FROM pages_cdx),
edges0 AS MATERIALIZED (
  SELECT DISTINCT src,
    CASE WHEN k % 3 = 0 THEN 'mega.example.com'
         WHEN k % 20 = 1 THEN 'univ' || CAST(k % 4 AS VARCHAR) || '.edu'
         WHEN k % 20 = 2 THEN 'agency' || CAST(k % 3 AS VARCHAR) || '.gov'
         ELSE 'site' || CAST(k % 40 AS VARCHAR) || '.com' END AS dst
  FROM ek),
edges AS MATERIALIZED (SELECT src, dst FROM edges0 WHERE src <> dst),
hosts AS MATERIALIZED (
  SELECT src AS host FROM edges0 UNION SELECT dst FROM edges0),
outdeg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT host,
  CAST((SELECT 1000000000000 // count(*) FROM hosts) AS BIGINT) AS rank_nano
  FROM hosts),
""" + ",\n".join(_pagerank_iter_cte(i) for i in range(5))
                         + ",\nauth AS (SELECT host, rank_nano AS "
                           "auth_nano FROM r5)"
                         + _FRONTIER_FUSE_SQL)

def q_surt_cdxj(spark, sf_dir):
    """SURT canonical keys + CDXJ index lines (sources/cdx.py
    ``cdxj_records``): the pywb/OpenWayback sort-friendly key
    (``com,example)/path?a=1&b=2`` — host comma-reversed, www-stripped,
    query params sorted) and the ``<surt> <ts14> <json>`` line format the
    reference's CDX API consumes (wayback_machine.py:741-907). The oracle
    rebuilds both the key and Spark's compact to_json output in closed
    form (corpus fields are escape-free by construction)."""
    from chrono_scraper_spark.sources.cdx import cdxj_records

    return cdxj_records(cdx_pages_view(spark, sf_dir))

_SURT_EXPR_DUCK = """array_to_string(list_reverse(string_split(
      regexp_replace(host, '^www\\d*\\.', ''), '.')), ',')
  || ')' || lower(string_split_regex(path, '\\?')[1])
  || CASE WHEN instr(path, '?') = 0 THEN ''
          ELSE '?' || array_to_string(list_sort(string_split(
                 lower(string_split_regex(path, '\\?')[2]), '&')), '&')
     END"""

SQL_SURT_CDXJ = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + f"""
SELECT
  {_SURT_EXPR_DUCK} AS surt,
  ts14,
  {_SURT_EXPR_DUCK}
  || ' ' || ts14 || ' {{"url":"' || url || '","mime":"' || mime
  || '","status":"' || CAST(status AS VARCHAR) || '","digest":"' || digest
  || '","length":"' || CAST(length AS VARCHAR) || '"}}' AS cdxj_line
FROM pages_cdx"""

_CYCLE_EDGES = [("https://loop.example.com/a", "https://loop.example.com/b"),
                ("https://loop.example.com/b", "https://loop.example.com/a")]

def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py): pointer-doubling
    terminal-URL lookup over a deterministic functional graph planted on
    the corpus — legacy URL ``https://r.example.com/<k>`` redirects to
    ``.../<k-1>`` while ``k%8 != 0``, and the chain's ``k%8 == 0`` root
    redirects once more onto the REAL corpus url(k); chains are therefore
    1-8 hops and every source terminates on a corpus URL. A planted
    2-cycle exercises non-termination. The oracle resolves the same graph
    in CLOSED FORM (terminal doc_id = k - k%8, hops = k%8 + 1) — no
    recursion — so the iterative engine is checked against independent
    arithmetic, not another walk. (Synthetic legacy hosts keep the chain
    keys unique: corpus urls collide across doc_ids by design.)"""
    from chrono_scraper_spark.operators.redirects import resolve_redirects

    u = cdx_pages_view(spark, sf_dir).select("doc_id", "url").distinct()
    k = F.col("doc_id")
    legacy = F.concat(F.lit("https://r.example.com/"), k.cast("string"))
    chain = u.select(
        legacy.alias("src"),
        F.when(k % 8 == 0, F.col("url"))
        .otherwise(F.concat(F.lit("https://r.example.com/"),
                            (k - 1).cast("string"))).alias("dst"))
    edges = chain.unionByName(
        spark.createDataFrame(_CYCLE_EDGES, "src string, dst string"))
    return resolve_redirects(edges)

SQL_REDIRECT_RESOLVE = (
    f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
u AS (SELECT DISTINCT doc_id, url FROM pages_cdx),
chains AS (
  SELECT 'https://r.example.com/' || CAST(a.doc_id AS VARCHAR) AS url,
    b.url AS final_url,
    CAST(a.doc_id % 8 + 1 AS INT) AS hops, FALSE AS is_cycle
  FROM u a JOIN u b ON b.doc_id = a.doc_id - (a.doc_id % 8)
)
SELECT url, final_url, hops, is_cycle FROM chains
UNION ALL
SELECT 'https://loop.example.com/a', NULL, NULL, TRUE
UNION ALL
SELECT 'https://loop.example.com/b', NULL, NULL, TRUE""")

def q_latest_captures(spark, sf_dir):
    """Newest capture per URL (operators/dedup.py::latest_captures) —
    the "current view" collapse behind a user-facing search index, dual
    of surt_collapse's earliest-representative. One max-struct argmax
    agg; ties beyond ts14 resolve by the remaining columns' struct
    order (mirrored in the oracle's ORDER BY)."""
    from chrono_scraper_spark.operators.dedup import latest_captures

    pages = cdx_pages_view(spark, sf_dir).select(
        "url", "ts14", "digest", "status")
    return latest_captures(pages)

SQL_LATEST_CAPTURES = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + """,
r AS (
  SELECT url, ts14, digest, status,
    row_number() OVER (PARTITION BY url
                       ORDER BY ts14 DESC, digest DESC, status DESC) AS rn
  FROM pages_cdx)
SELECT url, ts14, digest, status FROM r WHERE rn = 1"""

def q_surt_collapse(spark, sf_dir):
    """Canonical-URL collapse on SURT keys (operators/dedup.py
    ``surt_collapse``): corpus URLs augmented with deterministic
    www-prefixed and query-reordered VARIANTS (every third doc) must fold
    back onto their canonical representative — earliest capture wins,
    variant/capture counts per key. Oracle replays the canonicalization
    and the argmin relationally."""
    from chrono_scraper_spark.operators.dedup import surt_collapse

    pages = cdx_pages_view(spark, sf_dir).select(
        "url", "warc_ts", "ts14", "doc_id")
    variants = (pages.filter(F.col("doc_id") % 3 == 0)
                .select(F.regexp_replace("url", "^https://",
                                         "https://www.").alias("url"),
                        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
                        .alias("warc_ts"),
                        F.date_format(
                            F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"),
                            "yyyyMMddHHmmss").alias("ts14"),
                        "doc_id"))
    return surt_collapse(pages.unionByName(variants))

SQL_SURT_COLLAPSE = f"WITH pages_cdx AS ({PAGES_CTE_DUCK})" + f""",
aug AS (
  SELECT url, warc_ts, ts14, host, path FROM pages_cdx
  UNION ALL
  SELECT regexp_replace(url, '^https://', 'https://www.') AS url,
    warc_ts + INTERVAL 1 HOUR AS warc_ts,
    strftime(warc_ts + INTERVAL 1 HOUR, '%Y%m%d%H%M%S') AS ts14,
    host, path
  FROM pages_cdx WHERE doc_id % 3 = 0
),
keyed AS (
  SELECT {_SURT_EXPR_DUCK} AS surt, url, warc_ts, ts14 FROM aug
),
ranked AS (
  SELECT surt, url, ts14,
    row_number() OVER (PARTITION BY surt
                       ORDER BY warc_ts, url, ts14) AS rn
  FROM keyed
),
counts AS (
  SELECT surt, count(DISTINCT url) AS n_variants,
    count(*) AS n_captures
  FROM keyed GROUP BY surt
)
SELECT r.surt, r.url, r.ts14, c.n_variants, c.n_captures
FROM ranked r JOIN counts c ON r.surt = c.surt
WHERE r.rn = 1"""

def q_unicode_clean(spark, sf_dir):
    """Unicode normalization pass (operators/unicode_clean.py): NFC
    composition + zero-width/control removal + NBSP folding, as one
    Arrow projection. Deterministic unicode is planted on a third of the
    docs (decomposed e+COMBINING-ACUTE, ZWSP, BEL, NBSP — both engines
    build the identical string), so composition and every removal class
    are value-checked; the mojibake-repair branch is python-twin tested
    (not SQL-expressible, disabled here)."""
    from chrono_scraper_spark.operators.unicode_clean import clean_unicode

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    plant_suffix = (" caf" + "e\u0301" + "\u200b" + "zero" + "\x07"
                    + "width" + "\u00a0" + "end")
    planted = F.when(F.col("doc_id") % 3 == 0,
                     F.concat(F.col("text"), F.lit(plant_suffix)))
    d = d.withColumn("text", F.coalesce(planted, F.col("text")))
    return (clean_unicode(d)
            .select("doc_id", "clean_text", "n_removed", "was_changed"))

SQL_UNICODE_CLEAN = """
WITH src AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN text || ' caf' || chr(101) || chr(769) || chr(8203) ||
              'zero' || chr(7) || 'width' || chr(160) || 'end'
         ELSE text END AS text
  FROM documents
),
cleaned AS (
  SELECT doc_id, text,
    nfc_normalize(
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]', '', 'g'),
          '[\\x{00}-\\x{08}\\x{0b}\\x{0c}\\x{0e}-\\x{1f}\\x{7f}\\x{80}-\\x{9f}]',
          '', 'g'),
        '[\\x{a0}\\x{202f}]', ' ', 'g')) AS clean_text
  FROM src
)
SELECT doc_id, clean_text,
  CAST(length(text) - length(clean_text) AS INTEGER) AS n_removed,
  clean_text <> coalesce(text, '') AS was_changed
FROM cleaned"""

def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al. 2003) over the
    documents table: sorted distinct window-min k-gram md5 hashes per doc,
    emitted as (count, md5-of-signature) so the row stays small. Pure
    array-lambda projection — zero shuffles (textops.winnow_fingerprints)."""
    d = _t(spark, sf_dir, "documents")
    fps = T.winnow_fingerprints(F.col("text"), k=8, w=4)
    return d.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.md5(F.concat_ws("|", fps)).alias("fp_sig"))

SQL_WINNOW_FINGERPRINT = OG.winnow_query_sql(k=8, w=4)

def q_warc_identity(spark, sf_dir):
    """WARC (ISO 28500) writer+parser round-trip, value-checked like
    pdf_extraction_identity: every CDX-parity page is encoded as a real
    per-record-gzipped WARC response record (sources/warc.py — the Common
    Crawl layout the reference's CC route reads via WARC
    filename/offset/length, content_extraction_service.py:80-95) and
    parsed back inside one pandas UDF; URL, timestamp, mime, HTTP status
    and payload md5 must all survive the trip. The oracle reads the source
    rows directly."""
    import hashlib

    from pyspark.sql import types as ST
    from pyspark.sql.functions import pandas_udf

    from chrono_scraper_spark.sources.warc import (
        decode_warc_member,
        encode_warc_record,
    )

    schema = ST.StructType([
        ST.StructField("url_rt", ST.StringType()),
        ST.StructField("ts14_rt", ST.StringType()),
        ST.StructField("mime_rt", ST.StringType()),
        ST.StructField("status_rt", ST.IntegerType()),
        ST.StructField("payload_md5", ST.StringType()),
    ])

    @pandas_udf(schema)
    def roundtrip(url, date_iso, mime, status, text):
        import pandas as pd
        cols = {k: [] for k in
                ("url_rt", "ts14_rt", "mime_rt", "status_rt", "payload_md5")}
        for u, d, m, s, x in zip(url, date_iso, mime, status, text):
            payload = (x or "").encode()
            rec = decode_warc_member(
                encode_warc_record(u, d, m, int(s), payload))
            cols["url_rt"].append(rec["url"])
            cols["ts14_rt"].append(
                "".join(c for c in rec["date"] if c.isdigit())[:14])
            cols["mime_rt"].append(rec["mime"])
            cols["status_rt"].append(rec["status"])
            cols["payload_md5"].append(
                hashlib.md5(rec["payload"]).hexdigest())
        out = pd.DataFrame(cols)
        out["status_rt"] = out["status_rt"].astype("Int32")
        return out

    pages = cdx_pages_view(spark, sf_dir)
    r = roundtrip(
        F.col("url"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.col("mime"), F.col("status"), F.col("text"))
    return (pages.withColumn("_r", r)
            .select(F.col("_r.url_rt").alias("url"),
                    F.col("_r.ts14_rt").alias("ts14"),
                    F.col("_r.mime_rt").alias("mime"),
                    F.col("_r.status_rt").alias("status"),
                    F.col("_r.payload_md5").alias("payload_md5")))

SQL_WARC_IDENTITY = f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK})
SELECT url, ts14, mime, status, md5(text) AS payload_md5 FROM pages_cdx"""

def q_wet_identity(spark, sf_dir):
    """WET (Common Crawl extracted-text conversion record) writer+parser
    round-trip: every page's text is encoded as a per-record-gzipped
    ``WARC-Type: conversion`` record (sources/warc.py::encode_wet_record
    — the *.warc.wet.gz layout) and parsed back in one pandas UDF; URL,
    timestamp, the UTF-8 text md5, and the deterministic Refers-To
    linkage to the response record's id must all survive. The oracle
    reads the source rows directly."""
    import hashlib

    from pyspark.sql import types as ST
    from pyspark.sql.functions import pandas_udf

    from chrono_scraper_spark.sources.warc import (
        decode_warc_member,
        encode_wet_record,
    )

    schema = ST.StructType([
        ST.StructField("url_rt", ST.StringType()),
        ST.StructField("ts14_rt", ST.StringType()),
        ST.StructField("text_md5", ST.StringType()),
        ST.StructField("refers_to_response", ST.BooleanType()),
    ])

    @pandas_udf(schema)
    def roundtrip(url, date_iso, text):
        import pandas as pd
        cols = {k: [] for k in
                ("url_rt", "ts14_rt", "text_md5", "refers_to_response")}
        for u, d, x in zip(url, date_iso, text):
            rec = decode_warc_member(encode_wet_record(u, d, x or ""))
            cols["url_rt"].append(rec["url"])
            cols["ts14_rt"].append(
                "".join(c for c in rec["date"] if c.isdigit())[:14])
            cols["text_md5"].append(
                hashlib.md5(rec["payload"]).hexdigest())
            cols["refers_to_response"].append(
                rec["warc_type"] == "conversion")
        return pd.DataFrame(cols)

    pages = cdx_pages_view(spark, sf_dir)
    r = roundtrip(
        F.col("url"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.col("text"))
    return (pages.withColumn("_r", r)
            .select(F.col("_r.url_rt").alias("url"),
                    F.col("_r.ts14_rt").alias("ts14"),
                    F.col("_r.text_md5").alias("text_md5"),
                    F.col("_r.refers_to_response").alias("is_conversion")))

SQL_WET_IDENTITY = f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK})
SELECT url, ts14, md5(coalesce(text, '')) AS text_md5,
  TRUE AS is_conversion
FROM pages_cdx"""
