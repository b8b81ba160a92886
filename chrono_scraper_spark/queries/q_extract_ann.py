"""Extraction identity, hybrid source, ANN LSH/IVF variants.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.operators import ann as ANN
from chrono_scraper_spark.operators import text_dedup as TD

from ._shared import _PRELUDE, _cand, _t
from .q_textdocs import _SQL_DOCS_CLONES, _docs_with_clones


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via the PORTABLE md5-bit hash family (identical
    construction in the DuckDB oracle); the xxhash64 long variant stays the
    fast production path (unit-tested equivalent semantics)."""
    docs = _docs_with_clones(spark, sf_dir)
    return TD.simhash_near_duplicates_portable(docs, max_hamming=3)

SQL_SIMHASH_PAIRS = f"""WITH {_SQL_DOCS_CLONES},
tok AS (
  SELECT doc_id, unnest({OG.tokens_sql('text')}) AS tok FROM docs2
),
h AS (SELECT doc_id, md5(tok) AS hx FROM tok),
sums AS (
  SELECT doc_id,
    {OG.simhash_sum_exprs_sql('hx')}
  FROM h GROUP BY doc_id
),
bits AS (
  SELECT doc_id, {OG.simhash_bits_concat_sql()} AS bits FROM sums
),
chunks AS (
  SELECT doc_id, bits, i AS chunk_idx,
         substr(bits, 1 + 16 * i, 16) AS chunk
  FROM bits, (SELECT unnest(range(0, 4)) AS i)
),
cands AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         l.bits AS ba, r.bits AS bb
  FROM chunks l JOIN chunks r
    ON l.chunk_idx = r.chunk_idx AND l.chunk = r.chunk
  WHERE l.doc_id < r.doc_id
),
pairs AS (
  SELECT a, b,
    CAST(len(list_filter(range(1, 65),
         i -> substr(ba, CAST(i AS INT), 1) != substr(bb, CAST(i AS INT), 1)))
         AS INT) AS hamming
  FROM cands
)
SELECT a, b, hamming FROM pairs WHERE hamming <= 3"""

def q_ann_topk_lsh(spark, sf_dir):
    """Multi-probe hyperplane-LSH ANN, value-checked as a RECALL contract.

    Hyperplane LSH only promises recall for genuinely-near neighbors (small
    angle); the nearest neighbors of a random query in a random corpus are
    near-orthogonal, where no LSH family helps. So the contract plants the
    neighbors: each query vector gets 5 small deterministic perturbations
    (cosine ≈ 0.999) unioned into the corpus, the exact brute-force top-5
    for each query is recomputed, and the query emits per-query
    ``recall_ok`` = (LSH found ≥ 0.8 of the true top-5). The oracle asserts
    the same invariant as constant truth — a recall regression (plane
    construction, probing, bucketing bugs) flips a row and breaks the hash."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("embedding"))
    planted = queries.select(
        F.col("query_id"), F.explode(F.sequence(F.lit(1), F.lit(5))).alias("j"),
        "embedding",
    ).select(
        (F.col("query_id") * 10 + F.col("j") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x + (F.pmod(F.xxhash64(F.col("query_id"), F.col("j"),
                                             x.cast("string")),
                                  F.lit(201)) - 100).cast("double") / 50000.0,
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id",
                        F.col("embedding").cast("array<double>")
                        .alias("embedding")).unionByName(planted)
    lsh = ANN.cosine_topk_lsh(corpus, queries, k=5, n_planes=6).select(
        "query_id", "neighbor_id")
    brute = ANN.cosine_topk_bruteforce(corpus, queries, k=5).select(
        "query_id", "neighbor_id")
    hit = brute.join(lsh, ["query_id", "neighbor_id"], "left_semi")
    recall = (brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
              .join(hit.groupBy("query_id")
                    .agg(F.count(F.lit(1)).alias("found")),
                    "query_id", "left")
              .select("query_id",
                      (F.coalesce(F.col("found"), F.lit(0)) / F.col("k"))
                      .alias("recall")))
    return recall.select("query_id",
                         (F.col("recall") >= 0.8).alias("recall_ok"))

SQL_ANN_TOPK_LSH = """
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5"""

def q_extraction_identity(spark, sf_dir):
    """Byte-identity of the pinned html→text extractor, value-checked: the
    query renders html from the oracle-parity corpus text (the same
    co-generation the crawl pipeline uses), extracts, and emits
    md5(extracted text) + title + method; the oracle hashes the source text
    directly — any extractor byte divergence breaks the hash."""
    from chrono_scraper_spark.corpus import _render_html_udf
    from chrono_scraper_spark.operators.extraction import with_extraction

    pages = cdx_pages_view(spark, sf_dir).filter(F.col("mime") == "text/html")
    pages = pages.withColumn(
        "page_title", F.concat(F.lit("doc "), F.col("doc_id").cast("string")))
    pages = pages.withColumn(
        "html", _render_html_udf(F.col("page_title"), F.col("text"),
                                 F.date_format("warc_ts", "yyyy-MM-dd")))
    out = with_extraction(pages)
    return out.select(
        "url", "ts14",
        F.md5(F.col("extracted.text")).alias("text_md5"),
        F.col("extracted.title").alias("title"),
        F.col("extracted.method").alias("method"),
        F.md5(F.col("extracted.markdown")).alias("markdown_md5"),
        F.col("extracted.og_title").alias("og_title"),
        F.col("extracted.pub_date").alias("pub_date"))

SQL_EXTRACTION_IDENTITY = _PRELUDE + """
SELECT url, ts14, md5(text) AS text_md5,
  'doc ' || CAST(doc_id AS VARCHAR) AS title,
  'article' AS method,
  md5('# doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || text)
    AS markdown_md5,
  'doc ' || CAST(doc_id AS VARCHAR) AS og_title,
  strftime(warc_ts, '%Y-%m-%d') AS pub_date
FROM pages_cdx WHERE mime = 'text/html'"""

def q_hybrid_source(spark, sf_dir):
    """O5 source union/fallback (archive_service_router.py:61-99 as data
    flow): 'wayback' (priority 1) covers doc_id%3≠0, 'cc' (priority 2)
    covers doc_id%2=0 — overlapping key sets; the merged snapshot takes
    wayback's row wherever both cover a (url, ts14) key."""
    from chrono_scraper_spark.sources.cdx import union_with_fallback

    cand = _cand(spark, sf_dir)
    wayback = cand.filter(F.col("doc_id") % 3 != 0).select(
        "url", "ts14", F.lit("wayback").alias("source"))
    cc = cand.filter(F.col("doc_id") % 2 == 0).select(
        "url", "ts14", F.lit("cc").alias("source"))
    return union_with_fallback(wayback, cc, keys=["url", "ts14"])

SQL_HYBRID_SOURCE = _PRELUDE + """
, wayback AS (SELECT url, ts14, 'wayback' AS source FROM cand
              WHERE doc_id % 3 <> 0),
cc AS (SELECT url, ts14, 'cc' AS source FROM cand WHERE doc_id % 2 = 0)
SELECT * FROM wayback
UNION ALL
SELECT c.* FROM cc c
ANTI JOIN wayback w ON c.url = w.url AND c.ts14 = w.ts14"""

def q_ann_topk_ivf(spark, sf_dir):
    """IVF-Flat ANN with the same planted-neighbor RECALL contract as
    ann_topk_lsh: each query's 5 near-identical perturbations are planted
    into the corpus; the query emits per-query ``recall_ok`` = (IVF found
    ≥0.8 of the exact top-5). A centroid-assignment or probe-routing bug
    flips rows and breaks the oracle hash."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("embedding"))
    planted = queries.select(
        F.col("query_id"), F.explode(F.sequence(F.lit(1), F.lit(5))).alias("j"),
        "embedding",
    ).select(
        (F.col("query_id") * 10 + F.col("j") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x + (F.pmod(F.xxhash64(F.col("query_id"), F.col("j"),
                                             x.cast("string")),
                                  F.lit(201)) - 100).cast("double") / 50000.0,
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id",
                        F.col("embedding").cast("array<double>")
                        .alias("embedding")).unionByName(planted)
    ivf = ANN.cosine_topk_ivf(corpus, queries, k=5, n_centroids=16,
                              n_probe=4).select("query_id", "neighbor_id")
    brute = ANN.cosine_topk_bruteforce(corpus, queries, k=5).select(
        "query_id", "neighbor_id")
    hit = brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    recall = (brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
              .join(hit.groupBy("query_id")
                    .agg(F.count(F.lit(1)).alias("found")),
                    "query_id", "left")
              .select("query_id",
                      (F.coalesce(F.col("found"), F.lit(0)) / F.col("k"))
                      .alias("recall")))
    return recall.select("query_id",
                         (F.col("recall") >= 0.8).alias("recall_ok"))

SQL_ANN_TOPK_IVF = """
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5"""

def q_pdf_extraction_identity(spark, sf_dir):
    """Byte-identity of the dependency-free PDF text parser, value-checked
    like extraction_identity: the CDX-parity corpus' application/pdf rows
    get a co-generated PDF payload rendered from their text, the mime
    router sends them through ``extract_pdf_one``, and the query emits
    md5(text/markdown) + title/method/pub_date; the oracle hashes the
    source text directly."""
    from chrono_scraper_spark.corpus import _render_pdf_udf as render_pdf
    from chrono_scraper_spark.operators.extraction import with_extraction

    pages = cdx_pages_view(spark, sf_dir).filter(
        F.col("mime") == "application/pdf")
    pages = pages.withColumn(
        "page_title", F.concat(F.lit("doc "), F.col("doc_id").cast("string")))
    pages = pages.withColumn(
        "html", render_pdf(F.col("page_title"), F.col("text"),
                           F.date_format("warc_ts", "yyyy-MM-dd")))
    out = with_extraction(pages)
    return out.select(
        "url", "ts14",
        F.md5(F.col("extracted.text")).alias("text_md5"),
        F.col("extracted.title").alias("title"),
        F.col("extracted.method").alias("method"),
        F.md5(F.col("extracted.markdown")).alias("markdown_md5"),
        F.col("extracted.pub_date").alias("pub_date"))
