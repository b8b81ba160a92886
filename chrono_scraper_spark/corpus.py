"""Synthetic Common-Crawl-style corpora (BASELINE.json input_hint; FIXTURES §1).

Two deterministic corpora:

1. ``cdx_pages_sql`` — a *SQL-expressible* derivation of a CDX frontier from
   the driver's ``documents`` table. The same logic is emitted as Spark SQL
   and as DuckDB SQL (engine-specific date formatting isolated), which makes
   every crawl operator oracle-checkable by the driver: Spark runs the engine
   code over the Spark variant, DuckDB runs hand-written SQL over the DuckDB
   variant, and both sides must hash-match.

2. ``generate_pages`` — a seeded standalone generator producing the full
   input_hint shape ``(url, warc_ts, html binary, text, lang)`` (+ frontier
   columns mime/status/digest/length). ``html`` is co-generated from ``text``
   so the pinned extractor reproduces ``text`` byte-for-byte (SURVEY §7 step
   6). Zipf-ish host skew: one mega-host carries ~1/3 of rows (FIXTURES §1)
   to exercise skew splitting. Everything except the html render is JVM-side
   expressions over ``spark.range``; the render is an Arrow-batched pandas
   UDF.
"""

from __future__ import annotations

import html as _htmlmod

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

# ---------------------------------------------------------------------------
# 1. The SQL-expressible CDX frontier over `documents` (oracle-parity corpus)
# ---------------------------------------------------------------------------
# Placeholders: {ts14} differs per engine. Everything else is portable SQL
# (||, CASE, %, md5, make_timestamp, CAST AS STRING run identically on
# Spark SQL and DuckDB).
_PAGES_CTE_TEMPLATE = """
SELECT
  'https://' || host || path AS url,
  warc_ts,
  {ts14} AS ts14,
  host, path, mime, status, length, digest, text, lang, doc_id, n_cap
FROM (
  SELECT
    d.doc_id, d.text, d.lang, caps.n AS n_cap,
    CASE
      WHEN d.doc_id % 3 = 0 THEN 'mega.example.com'
      WHEN d.doc_id % 20 = 1 THEN 'univ' || CAST(d.doc_id % 4 AS STRING) || '.edu'
      WHEN d.doc_id % 20 = 2 THEN 'agency' || CAST(d.doc_id % 3 AS STRING) || '.gov'
      ELSE 'site' || CAST(d.doc_id % 40 AS STRING) || '.com'
    END AS host,
    CASE d.doc_id % 16
      WHEN 0 THEN '/research/paper-' || CAST(d.doc_id AS STRING)
      WHEN 1 THEN '/category/news'
      WHEN 2 THEN '/static/style-' || CAST(d.doc_id AS STRING) || '.css'
      WHEN 3 THEN '/articles/entry-' || CAST(d.doc_id AS STRING)
      WHEN 4 THEN '/blog/page/' || CAST(d.doc_id % 9 AS STRING)
      WHEN 5 THEN '/guide/item-' || CAST(d.doc_id AS STRING)
      WHEN 6 THEN '/archive/2019/'
      WHEN 7 THEN '/paper-' || CAST(d.doc_id AS STRING) || '.pdf'
      WHEN 8 THEN '/search/?q=term' || CAST(d.doc_id % 5 AS STRING)
      WHEN 9 THEN '/post-' || CAST(d.doc_id AS STRING) || '?id=' || CAST(d.doc_id AS STRING)
      WHEN 10 THEN '/journal/vol-' || CAST(d.doc_id % 7 AS STRING) || '/article-' || CAST(d.doc_id AS STRING)
      WHEN 11 THEN '/policy/item-' || CAST(d.doc_id AS STRING)
      WHEN 12 THEN '/news-item/long-title-' || CAST(d.doc_id AS STRING)
      WHEN 13 THEN '/feed/'
      WHEN 14 THEN '/wp-admin/options-' || CAST(d.doc_id AS STRING)
      ELSE '/index.html'
    END AS path,
    CASE
      WHEN d.doc_id % 16 = 2 THEN 'text/css'
      WHEN d.doc_id % 16 = 7 THEN 'application/pdf'
      ELSE 'text/html'
    END AS mime,
    CASE WHEN d.doc_id % 31 = 0 THEN 404 ELSE 200 END AS status,
    CASE d.doc_id % 5
      WHEN 0 THEN d.n_chars
      WHEN 1 THEN 1200 + d.n_chars
      WHEN 2 THEN 6000 + d.n_chars
      WHEN 3 THEN 10485761 + d.n_chars
      ELSE 3000 + d.n_chars
    END AS length,
    md5(d.text) AS digest,
    make_timestamp(
      2019 + CAST(d.doc_id % 4 AS INT), CAST(1 + d.doc_id % 12 AS INT),
      CAST(1 + d.doc_id % 27 AS INT), CAST(d.doc_id % 24 AS INT),
      CAST(d.doc_id % 60 AS INT),
      CAST((d.doc_id * 7 + caps.n * 11) % 60 AS INT)
    ) AS warc_ts
  FROM documents d
  CROSS JOIN (VALUES (0), (1), (2)) AS caps(n)
  WHERE caps.n <= d.doc_id % 3
)
"""

PAGES_CTE_SPARK = _PAGES_CTE_TEMPLATE.format(
    ts14="date_format(warc_ts, 'yyyyMMddHHmmss')"
)
PAGES_CTE_DUCK = _PAGES_CTE_TEMPLATE.format(
    ts14="strftime(warc_ts, '%Y%m%d%H%M%S')"
)


def cdx_pages_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-parity CDX frontier as a Spark DataFrame.

    The scan-parallelism floor (functions/planutil.py) matters here: the
    driver testdata writes ``documents.parquet`` as one row group, which one
    task must read — without the floor every expression pipelined onto this
    scan (the regex decision chain, md5 digests, tokenization) runs on 1-2
    cores of 32 (measured round 6)."""
    from chrono_scraper_spark.functions.planutil import scan_parallelism_floor

    path = f"{sf_dir}/documents.parquet"
    docs = scan_parallelism_floor(spark, spark.read.parquet(path), path)
    docs.createOrReplaceTempView("documents")
    return spark.sql(PAGES_CTE_SPARK)


# ---------------------------------------------------------------------------
# 2. Standalone seeded pages generator (input_hint shape, html co-generated)
# ---------------------------------------------------------------------------
_VOCAB = [
    "archive", "capture", "crawl", "frontier", "index", "page", "content",
    "history", "snapshot", "record", "document", "research", "library",
    "policy", "journal", "analysis", "report", "public", "network", "digital",
    "system", "query", "filter", "schedule", "extract", "measure", "signal",
    "corpus", "sample", "window", "budget", "domain", "host", "token",
    "partition", "shuffle", "column", "vector", "batch", "stream",
]
_V = len(_VOCAB)


def _words_expr(seed_col: str, n_words_col: str) -> F.Column:
    """Deterministic word array: word_i = VOCAB[xxhash64(seed, i) mod V].
    Pure JVM expression (transform over sequence — no Python)."""
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    return F.transform(
        F.sequence(F.lit(1), F.col(n_words_col)),
        lambda i: F.element_at(
            vocab, (F.pmod(F.xxhash64(F.col(seed_col), i), F.lit(_V)) + 1).cast("int")
        ),
    )


@pandas_udf(BinaryType())
def _render_html_udf(title: pd.Series, text: pd.Series,
                     pub_date: pd.Series) -> pd.Series:  # pragma: no cover
    """Render the co-generated page: title + OpenGraph/published meta + nav
    noise + <article> paragraphs + footer. The pinned extractor inverts the
    text byte-for-byte and recovers og_title/pub_date (E8)."""
    out = []
    for t, x, d in zip(title, text, pub_date):
        paras = "".join(
            f"<p>{_htmlmod.escape(p)}</p>" for p in (x or "").split("\n\n")
        )
        esc_t = _htmlmod.escape(t or "")
        meta = (f'<meta property="og:title" content="{esc_t}"/>'
                + (f'<meta property="article:published_time" content="{d}"/>'
                   if d else ""))
        out.append(
            (
                "<html><head><title>"
                + esc_t
                + f"</title>{meta}</head><body>"
                + "<nav><a href='/'>home</a><a href='/blog/'>blog</a></nav>"
                + f"<article>{paras}</article>"
                + "<footer>copyright archive corp</footer>"
                + "</body></html>"
            ).encode("utf-8")
        )
    return pd.Series(out)


@pandas_udf(BinaryType())
def _render_pdf_udf(title: pd.Series, text: pd.Series,
                    pub_date: pd.Series) -> pd.Series:  # pragma: no cover
    """Render a co-generated PDF payload from source text — the PDF twin of
    ``_render_html_udf``: ``extract_pdf_one`` inverts it byte-for-byte."""
    from chrono_scraper_spark.operators.extraction import encode_pdf

    return pd.Series([encode_pdf(t, x, d)
                      for t, x, d in zip(title, text, pub_date)])


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    n_hosts: int = 50,
    captures_per_url: int = 3,
    partitions: int | None = None,
    words_scale: int = 1,
    pdf_every: int | None = None,
) -> DataFrame:
    """Deterministic corpus: ``n_docs`` distinct urls × 1-3 captures each.

    Host skew: doc_id % 3 == 0 → mega-host (~33%); else hash-spread over
    ``n_hosts``. Cross-url duplicate content: doc_id % 17 == 0 reuses the
    previous doc's text seed (same digest, different url) — exercises digest
    collapse across urls. ~20% of docs are short (<50 words) to exercise the
    extraction failure gate.
    """
    base = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    df = base.withColumn(
        "content_seed",
        F.when((F.col("id") % 17 == 0) & (F.col("id") > 0), F.col("id") - 1)
        .otherwise(F.col("id")),
    )
    # word count: 30..149, deterministic; %5==0 docs are short (<=40 words).
    # ``words_scale`` multiplies LONG docs only (bench realism: real webtext
    # is 1-10 KB of text; short docs stay short so the extraction-failure
    # gate still fires).
    df = df.withColumn(
        "n_words",
        F.when(F.col("id") % 5 == 0,
               (30 + F.pmod(F.xxhash64("content_seed"), F.lit(11))).cast("int"))
        .otherwise(((60 + F.pmod(F.xxhash64("content_seed", F.lit(3)),
                                 F.lit(90))) * words_scale).cast("int")),
    )
    words = _words_expr("content_seed", "n_words")
    half = (F.col("n_words") / 2).cast("int")
    p1 = F.concat_ws(" ", F.slice(words, 1, half))
    p2 = F.concat_ws(" ", F.slice(words, (half + 1).cast("int"),
                                  (F.col("n_words") - half).cast("int")))
    df = df.withColumn(
        "text",
        F.when(F.col("n_words") >= 60, F.concat(p1, F.lit("\n\n"), p2)).otherwise(
            F.concat_ws(" ", words)
        ),
    )
    df = df.withColumn(
        "title",
        F.concat_ws(" ", F.slice(_words_expr("content_seed", "n_words"), 1, 4)),
    )
    df = df.withColumn(
        "host",
        F.when(F.col("id") % 3 == 0, F.lit("mega.example.com")).otherwise(
            F.concat(
                F.lit("site"),
                F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_hosts)).cast("string"),
                F.lit(".com"),
            )
        ),
    )
    df = df.withColumn(
        "path",
        F.concat(F.lit("/articles/entry-"), F.col("id").cast("string")),
    ).withColumn("url", F.concat(F.lit("https://"), F.col("host"), F.col("path")))

    # 1-3 captures per url (capture count decorrelated from host assignment
    # so the mega-host keeps its ~1/3 row share)
    df = df.withColumn(
        "n_cap",
        F.explode(F.sequence(
            F.lit(0), F.pmod(F.xxhash64("id", F.lit(13)), F.lit(captures_per_url))
        )),
    )
    df = df.withColumn(
        "warc_ts",
        F.expr(
            "make_timestamp(2019 + CAST(id % 4 AS INT), CAST(1 + id % 12 AS INT), "
            "CAST(1 + id % 27 AS INT), CAST(id % 24 AS INT), CAST(id % 60 AS INT), "
            "CAST((id * 7 + n_cap * 11) % 60 AS INT))"
        ),
    )
    df = df.withColumn("lang", F.when(F.col("id") % 10 < 8, F.lit("en"))
                       .when(F.col("id") % 10 == 8, F.lit("de"))
                       .otherwise(F.lit("fr")))
    # pdf_every: docs with id % pdf_every == 7 carry a co-generated PDF
    # payload + application/pdf mime (the CDX filter admits PDFs; the
    # extractor routes them through the PDF parser)
    is_pdf = (F.col("id") % pdf_every == 7) if pdf_every else F.lit(False)
    df = df.withColumn(
        "html",
        F.when(is_pdf, _render_pdf_udf(
            F.col("title"), F.col("text"),
            F.date_format("warc_ts", "yyyy-MM-dd")))
        .otherwise(_render_html_udf(
            F.col("title"), F.col("text"),
            F.date_format("warc_ts", "yyyy-MM-dd"))))
    df = df.withColumn("digest", F.md5(F.col("text")))
    df = df.withColumn(
        "mime",
        F.when(is_pdf, F.lit("application/pdf"))
        .otherwise(F.lit("text/html")))
    df = df.withColumn("status", F.lit(200))
    df = df.withColumn("length", F.length(F.col("html")).cast("long"))
    return df.select(
        "url", "warc_ts", "html", "text", "lang",
        "host", "path", "mime", "status", "digest", "length", "title",
        F.col("id").alias("doc_id"), "n_cap",
    )
