"""Change detection, recrawl, readability, feeds, OPIC, WAT and text-signal families.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import PAGES_CTE_DUCK, cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.functions import textops as T
from chrono_scraper_spark.operators.index import build_inverted_terms

from ._shared import _t
from .q_graph_sketch import _FRONTIER_FUSE_SQL, _LINKS_CTES, _linked_pages


def q_page_changes(spark, sf_dir):
    """Per-capture change log over every URL's snapshot sequence
    (ChangeDetectionService.detect_page_changes run corpus-wide): lag
    window per url, md5 equality gate, token-multiset Dice similarity
    (one codegen sweep/row), threshold classification, multiset diff
    sizes."""
    from chrono_scraper_spark.operators import changes as CH

    pages = cdx_pages_view(spark, sf_dir)
    return CH.detect_changes(pages)

def q_change_stats(spark, sf_dir):
    """get_change_statistics rollup of page_changes: counts + mean
    similarity per (capture day, change_type)."""
    from chrono_scraper_spark.operators import changes as CH

    pages = cdx_pages_view(spark, sf_dir)
    return CH.change_statistics(CH.detect_changes(pages))

_CHANGES_CTES = f"""
pages_cdx AS ({{pages_cte}}),
v AS (
  SELECT url, ts14, coalesce(text, '') AS cur,
    coalesce(lag(coalesce(text, '')) OVER w, '') AS prev,
    row_number() OVER w AS vn
  FROM pages_cdx
  WINDOW w AS (PARTITION BY url ORDER BY ts14)
),
ta AS (
  SELECT url, ts14, u.t AS tok, count(*) AS c
  FROM v, unnest(list_filter(string_split_regex(trim(prev), '\\s+'),
                             t -> t != '')) AS u(t)
  GROUP BY 1, 2, 3
),
tb AS (
  SELECT url, ts14, u.t AS tok, count(*) AS c
  FROM v, unnest(list_filter(string_split_regex(trim(cur), '\\s+'),
                             t -> t != '')) AS u(t)
  GROUP BY 1, 2, 3
),
nag AS (SELECT url, ts14, sum(c) AS na FROM ta GROUP BY 1, 2),
nbg AS (SELECT url, ts14, sum(c) AS nb FROM tb GROUP BY 1, 2),
ovg AS (
  SELECT url, ts14, sum(least(a.c, b.c)) AS m
  FROM ta a JOIN tb b USING (url, ts14, tok) GROUP BY 1, 2
),
sz AS (
  SELECT v.url, v.ts14, coalesce(nag.na, 0) AS na,
    coalesce(nbg.nb, 0) AS nb, coalesce(ovg.m, 0) AS m
  FROM v
  LEFT JOIN nag ON nag.url = v.url AND nag.ts14 = v.ts14
  LEFT JOIN nbg ON nbg.url = v.url AND nbg.ts14 = v.ts14
  LEFT JOIN ovg ON ovg.url = v.url AND ovg.ts14 = v.ts14
),
chg AS (
  SELECT v.url, v.ts14, v.vn, sz.na, sz.nb, sz.m,
    CASE WHEN v.vn = 1 THEN NULL
         WHEN sz.na = 0 AND sz.nb = 0 THEN 1.0
         WHEN sz.na = 0 OR sz.nb = 0 THEN 0.0
         ELSE round(2.0 * sz.m / (sz.na + sz.nb), 6) END AS similarity,
    CASE WHEN v.vn = 1 THEN 'new'
         WHEN md5(v.cur) = md5(v.prev) THEN 'unchanged'
         WHEN len(v.prev) = 0 AND len(v.cur) > 0 THEN 'new'
         WHEN len(v.cur) = 0 AND len(v.prev) > 0 THEN 'deleted'
         WHEN CASE WHEN sz.na = 0 AND sz.nb = 0 THEN 1.0
                   WHEN sz.na = 0 OR sz.nb = 0 THEN 0.0
                   ELSE round(2.0 * sz.m / (sz.na + sz.nb), 6) END >= 0.95
           THEN 'minor_update'
         ELSE 'modified' END AS change_type
  FROM v JOIN sz ON sz.url = v.url AND sz.ts14 = v.ts14
)"""

SQL_PAGE_CHANGES = (
    "WITH " + _CHANGES_CTES.format(pages_cte=PAGES_CTE_DUCK) + """
SELECT url, ts14, change_type, similarity,
  CAST(nb - m AS BIGINT) AS units_added,
  CAST(na - m AS BIGINT) AS units_removed,
  CAST(vn AS BIGINT) AS n_versions_seen
FROM chg""")

SQL_CHANGE_STATS = (
    "WITH " + _CHANGES_CTES.format(pages_cte=PAGES_CTE_DUCK) + """
SELECT substr(ts14, 1, 8) AS day, change_type, count(*) AS n,
  round(sum(floor(similarity * 1e9)) / count(similarity) / 1e9, 6)
    AS mean_similarity
FROM chg GROUP BY 1, 2""")

def q_content_evolution(spark, sf_dir):
    """Per-URL evolution timeline (get_content_evolution): content hash,
    word/char counts, similarity to previous capture, tiered change
    classification (>0.9 minor / >0.7 moderate / else major; first
    capture 'new' at similarity 1.0)."""
    from chrono_scraper_spark.operators import changes as CH

    pages = cdx_pages_view(spark, sf_dir)
    return CH.content_evolution(pages)

SQL_CONTENT_EVOLUTION = (
    "WITH " + _CHANGES_CTES.format(pages_cte=PAGES_CTE_DUCK) + """,
evo AS (
  SELECT v.url, v.ts14, v.vn, v.cur, v.prev,
    CASE WHEN v.vn = 1 THEN 1.0
         WHEN sz.na = 0 AND sz.nb = 0 THEN 1.0
         WHEN sz.na = 0 OR sz.nb = 0 THEN 0.0
         ELSE round(2.0 * sz.m / (sz.na + sz.nb), 6) END AS sim
  FROM v JOIN sz ON sz.url = v.url AND sz.ts14 = v.ts14
)
SELECT url, ts14, md5(cur) AS content_hash,
  CAST(len(list_filter(string_split_regex(trim(cur), '\\s+'),
                       t -> t != '')) AS BIGINT) AS word_count,
  CAST(len(cur) AS BIGINT) AS char_count,
  CASE WHEN vn = 1 THEN 'new'
       WHEN md5(cur) = md5(prev) THEN 'unchanged'
       WHEN sim > 0.9 THEN 'minor_change'
       WHEN sim > 0.7 THEN 'moderate_change'
       ELSE 'major_change' END AS change_type,
  sim AS similarity_to_previous
FROM evo""")

def q_recrawl_schedule(spark, sf_dir):
    """Freshness-driven recrawl prioritization (Cho & Garcia-Molina 2003):
    per-URL Poisson change-rate estimate from the capture history ×
    staleness since last capture (``operators/recrawl.py``). Capture
    digests are deterministically perturbed (every third (doc, capture)
    changes) so the corpus exhibits a mix of change rates; "now" is the
    corpus max capture time — no wall clock."""
    from chrono_scraper_spark.operators.recrawl import recrawl_schedule

    pages = cdx_pages_view(spark, sf_dir)
    perturbed = pages.withColumn(
        "digest",
        F.when(((F.col("doc_id") + F.col("n_cap")) % 3 == 0)
               & (F.col("n_cap") > 0),
               F.md5(F.concat(F.col("digest"),
                              F.col("n_cap").cast("string"))))
        .otherwise(F.col("digest")))
    return recrawl_schedule(perturbed)

SQL_RECRAWL_SCHEDULE = f"""
WITH pages_cdx AS ({{pages_cte}}),
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
pu AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_captures,
    CAST(sum(CASE WHEN prev IS NOT NULL AND dg <> prev
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
    CAST(max(ts_s) - min(ts_s) AS BIGINT) AS span_s,
    max(ts_s) AS last_s
  FROM v GROUP BY url
),
nw AS (SELECT max(last_s) AS now_s FROM pu),
sc AS (
  SELECT url, n_captures, n_changes, span_s,
    CAST(CASE WHEN span_s > 0 THEN (n_changes * 1000000000) // span_s
              ELSE 0 END AS BIGINT) AS lambda_e9,
    CAST(now_s - last_s AS BIGINT) AS age_s
  FROM pu CROSS JOIN nw
)
SELECT url, n_captures, n_changes, span_s, lambda_e9, age_s,
  CAST(lambda_e9 * age_s AS BIGINT) AS score_e9,
  n_captures = 1 AS cold_start,
  lambda_e9 * age_s >= 500000000 AS due
FROM sc""".format(pages_cte=PAGES_CTE_DUCK)

def q_readability(spark, sf_dir):
    """Flesch Reading Ease + readability insight flags per document
    (calculate_readability_score / get_quality_grade analog): exact
    integer word/sentence/syllable counts folded per row, one
    zero-shuffle codegen projection."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.readability(d)

SQL_READABILITY = """
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
b AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(t), '\\s+'), x -> x != '')
      AS words,
    list_filter(string_split_regex(t, '[.!?]+'),
                s -> trim(regexp_replace(s, '\\s+', ' ', 'g')) != '')
      AS sents,
    len(string_split(t, chr(10) || chr(10))) AS np
  FROM d
),
c AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS nw,
    CAST(len(sents) AS BIGINT) AS ns,
    CAST(np AS BIGINT) AS npg,
    CAST(coalesce(list_sum(list_transform(words, x ->
      greatest(1, CASE WHEN ends_with(lower(x), 'e')
             AND len(regexp_extract_all(lower(x), '[aeiouy]+')) > 1
           THEN len(regexp_extract_all(lower(x), '[aeiouy]+')) - 1
           ELSE len(regexp_extract_all(lower(x), '[aeiouy]+')) END))),
      0) AS BIGINT) AS syl
  FROM b
),
f AS (
  SELECT doc_id, nw, ns, npg, syl,
    CASE WHEN ns > 0 THEN round(greatest(0.0, least(100.0,
      206.835 - 1.015 * (nw / ns) - 84.6 * (syl / nw))), 4)
      ELSE 0.0 END AS flesch
  FROM c
)
SELECT doc_id, nw AS n_words, ns AS n_sentences,
  CASE WHEN ns > 0 THEN syl END AS n_syllables,
  npg AS n_paragraphs,
  CASE WHEN ns > 0 THEN round(nw / ns, 4) END AS avg_words_per_sentence,
  CASE WHEN ns > 0 THEN round(syl / nw, 4) END AS avg_syllables_per_word,
  flesch AS flesch_score,
  CASE WHEN flesch >= 85 THEN 'A' WHEN flesch >= 70 THEN 'B'
       WHEN flesch >= 50 THEN 'C' WHEN flesch >= 30 THEN 'D'
       ELSE 'F' END AS grade,
  CASE WHEN ns > 0 THEN (nw / ns) > 25 ELSE false END AS long_sentences,
  CASE WHEN ns > 0 THEN (nw / ns) < 8 ELSE false END AS short_sentences,
  CASE WHEN ns > 0 THEN (syl / nw) > 2.0 ELSE false END AS complex_vocab,
  CASE WHEN ns > 0 THEN (syl / nw) < 1.3 ELSE false END AS simple_vocab,
  CASE WHEN ns > 0 THEN (ns / npg) > 8 ELSE false END AS long_paragraphs,
  CASE WHEN ns > 0 THEN (ns / npg) >= 3 AND (ns / npg) <= 6
       ELSE false END AS well_structured
FROM f"""

def q_bigram_logprob(spark, sf_dir):
    """Second-order CCNet LM analog: add-one-smoothed conditional bigram
    model built on the even docs, scored over the odd docs (same split
    as unigram_logprob). Both models broadcast; nano-quantized
    order-independent mean."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    tk = train.select(T.tokens(F.col("text")).alias("_tk"))
    bm = (tk.select(F.explode(Q.kgrams(F.col("_tk"), 2)).alias("bg"))
          .groupBy("bg").agg(F.count("*").alias("cb")))
    um = (tk.select(F.explode(F.col("_tk")).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("cu")))
    return Q.bigram_logprob(test, bigram_model=bm, unigram_model=um)

SQL_BIGRAM_LOGPROB = f"""
WITH tr AS (
  SELECT {OG.tokens_sql('text')} AS tk FROM documents WHERE doc_id % 2 = 0
),
te AS (
  SELECT doc_id, {OG.tokens_sql('text')} AS tk FROM documents
  WHERE doc_id % 2 = 1
),
bm AS (
  SELECT u.g AS bg, count(*) AS cb
  FROM tr, unnest({OG.kgrams_sql('tk', 2)}) AS u(g) GROUP BY 1
),
um AS (
  SELECT u.t AS tok, count(*) AS cu
  FROM tr, unnest(tk) AS u(t) GROUP BY 1
),
vv AS (SELECT count(*) AS v FROM um),
tb AS (
  SELECT doc_id, u.g AS bg
  FROM te, unnest({OG.kgrams_sql('tk', 2)}) AS u(g)
),
sc AS (
  SELECT t.doc_id,
    CAST(floor(log10((coalesce(bm.cb, 0) + 1)
                     / (coalesce(um.cu, 0) + vv.v)) * 1e9) AS BIGINT)
      AS lp,
    bm.cb IS NULL AS oov
  FROM tb t
  LEFT JOIN bm USING (bg)
  LEFT JOIN um ON um.tok = string_split(t.bg, ' ')[1], vv
)
SELECT doc_id, round(sum(lp) / count(*) / 1e9, 6) AS mean_logprob,
  count(*) AS n_bigrams,
  CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_bigrams
FROM sc GROUP BY doc_id"""

def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (learn-merges pass) over the corpus word-
    frequency table: 10 merge rounds, each one pair-count agg + 1-row
    argmax + codegen fold. NO SQL oracle by design — the rank-r merge
    depends on the rank-(r−1) argmax, an iterative data dependency a
    single SQL statement cannot express; correctness is held by the
    exact pure-Python twin parity test and the encode-reproduces-
    training-segmentation invariant (tests/test_quality.py)."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.bpe_train(d, n_merges=10)

def q_mime_sniff(spark, sf_dir):
    """Content sniffing from magic bytes (operators/mime_sniff.py):
    payloads are deterministically constructed per doc_id family (PDF/
    gzip/PNG/ZIP magics, HTML with and without BOM, RSS/Atom XML, a
    NUL-carrying binary, plain text) with declared Content-Types that
    agree, lie, or carry no claim — the sniff, the mismatch flag, and
    the resolve policy are all value-checked."""
    from chrono_scraper_spark.operators.mime_sniff import with_sniffed_mime

    pages = cdx_pages_view(spark, sf_dir).select(
        "url", "ts14", "doc_id", "text")
    txt = F.regexp_replace(F.substring("text", 1, 120), "[^ -~]", "")
    fam = F.col("doc_id") % 10
    enc = F.encode(txt, "utf-8")
    payload = (
        F.when(fam == 0, F.concat(F.unhex(F.lit("255044462D")), enc))
        .when(fam == 1, F.concat(F.unhex(F.lit("1F8B08")), enc))
        .when(fam == 2, F.concat(F.unhex(F.lit("89504E470D0A1A0A")), enc))
        .when(fam == 3, F.encode(F.concat(F.lit("<html><body>"), txt),
                                 "utf-8"))
        .when(fam == 4, F.concat(
            F.unhex(F.lit("EFBBBF")),
            F.encode(F.concat(F.lit("  <!doctype html><html>"), txt),
                     "utf-8")))
        .when(fam == 5, F.encode(F.concat(
            F.lit('<?xml version="1.0"?><rss version="2.0">'), txt),
            "utf-8"))
        .when(fam == 6, F.encode(F.concat(
            F.lit('<?xml version="1.0"?><feed xmlns="a">'), txt), "utf-8"))
        .when(fam == 7, F.concat(F.encode(F.lit("aaa"), "utf-8"),
                                 F.unhex(F.lit("00")), enc))
        .when(fam == 8, F.encode(F.concat(F.lit("plain text: "), txt),
                                 "utf-8"))
        .otherwise(F.concat(F.unhex(F.lit("504B0304")), enc)))
    declared = (
        F.when(fam == 0, "text/html")
        .when(fam == 2, "image/png")
        .when(fam == 3, "application/octet-stream")
        .when(fam == 4, "TEXT/HTML; charset=utf-8")
        .when(fam == 5, "text/xml")
        .when(fam == 7, "text/plain")
        .when(fam == 8, "text/plain"))
    df = pages.select("url", "ts14", payload.alias("payload"),
                      declared.alias("content_type"))
    return with_sniffed_mime(df, payload_col="payload").select(
        "url", "ts14", "sniffed_mime", "mime_mismatch", "effective_mime")

SQL_MIME_SNIFF = """
WITH pages_cdx AS ({pages_cte}),
p AS (
  SELECT url, ts14, doc_id,
    regexp_replace(substring(text, 1, 120), '[^ -~]', '', 'g') AS txt
  FROM pages_cdx
),
built AS (
  SELECT url, ts14,
    CASE doc_id % 10
      WHEN 0 THEN unhex('255044462D') || encode(txt)
      WHEN 1 THEN unhex('1F8B08') || encode(txt)
      WHEN 2 THEN unhex('89504E470D0A1A0A') || encode(txt)
      WHEN 3 THEN encode('<html><body>' || txt)
      WHEN 4 THEN unhex('EFBBBF') ||
                  encode('  <!doctype html><html>' || txt)
      WHEN 5 THEN encode('<?xml version="1.0"?><rss version="2.0">' || txt)
      WHEN 6 THEN encode('<?xml version="1.0"?><feed xmlns="a">' || txt)
      WHEN 7 THEN encode('aaa') || unhex('00') || encode(txt)
      WHEN 8 THEN encode('plain text: ' || txt)
      ELSE unhex('504B0304') || encode(txt)
    END AS payload,
    CASE doc_id % 10
      WHEN 0 THEN 'text/html'
      WHEN 2 THEN 'image/png'
      WHEN 3 THEN 'application/octet-stream'
      WHEN 4 THEN 'TEXT/HTML; charset=utf-8'
      WHEN 5 THEN 'text/xml'
      WHEN 7 THEN 'text/plain'
      WHEN 8 THEN 'text/plain'
    END AS content_type
  FROM p
),
sniffed AS (
  SELECT url, ts14, content_type,
    CASE
      WHEN hx LIKE '255044462D%' THEN 'application/pdf'
      WHEN hx LIKE '1F8B%' THEN 'application/gzip'
      WHEN hx LIKE '89504E470D0A1A0A%' THEN 'image/png'
      WHEN hx LIKE 'FFD8FF%' THEN 'image/jpeg'
      WHEN hx LIKE '474946383761%' OR hx LIKE '474946383961%'
        THEN 'image/gif'
      WHEN hx LIKE '424D%' THEN 'image/bmp'
      WHEN hx LIKE '504B0304%' THEN 'application/zip'
      WHEN hx LIKE '574152432F%' THEN 'application/warc'
      WHEN hx LIKE '52494646%' THEN
        CASE substring(hex(payload), 17, 8)
          WHEN '57415645' THEN 'audio/wav'
          WHEN '57454250' THEN 'image/webp'
          ELSE 'application/octet-stream' END
      WHEN pre LIKE '<?xml%' AND regexp_matches(pre, '<rss[\\s>]')
        THEN 'application/rss+xml'
      WHEN pre LIKE '<?xml%' AND regexp_matches(pre, '<feed[\\s>]')
        THEN 'application/atom+xml'
      WHEN pre LIKE '<?xml%' THEN 'application/xml'
      WHEN pre LIKE '<!doctype%' OR pre LIKE '<html%' OR pre LIKE '<head%'
        OR pre LIKE '<body%' OR pre LIKE '<div%' OR pre LIKE '<p%'
        OR pre LIKE '<script%' OR pre LIKE '<title%' OR pre LIKE '<h1%'
        OR pre LIKE '<table%' OR pre LIKE '<a %' OR pre LIKE '<a>%'
        OR pre LIKE '<br%' OR pre LIKE '<!--%'
        THEN 'text/html'
      WHEN regexp_matches(left(hex(payload), 1024), '^(?:..)*?00')
        THEN 'application/octet-stream'
      ELSE 'text/plain'
    END AS sniffed_mime
  FROM (
    SELECT url, ts14, content_type, payload,
      left(hex(payload), 32) AS hx,
      -- DuckDB decode() errors on invalid UTF-8 (Spark's cast replaces);
      -- the magic-prefix families never reach the decoded-prefix branch,
      -- so skip decoding them (gzip/png prefixes are invalid UTF-8)
      CASE WHEN left(hex(payload), 4) IN ('1F8B', 'FFD8')
             OR left(hex(payload), 2) = '89'
           THEN ''
           ELSE lower(regexp_replace(left(decode(payload), 256),
                                     '^[﻿\\s]+', '')) END AS pre
    FROM built)
),
resolved AS (
  SELECT url, ts14, sniffed_mime,
    nullif(lower(trim(string_split(content_type, ';')[1])), '') AS decl
  FROM sniffed
)
SELECT url, ts14, sniffed_mime,
  (decl IS NOT NULL AND sniffed_mime IS NOT NULL
   AND decl <> sniffed_mime) AS mime_mismatch,
  CASE
    WHEN sniffed_mime IS NULL THEN decl
    WHEN sniffed_mime IN ('application/gzip', 'application/pdf',
      'application/warc', 'application/zip', 'audio/wav', 'image/bmp',
      'image/gif', 'image/jpeg', 'image/png', 'image/webp')
      THEN sniffed_mime
    ELSE coalesce(CASE WHEN decl NOT IN ('application/octet-stream',
                    'binary/octet-stream', 'application/binary',
                    'unknown/unknown') THEN decl END, sniffed_mime)
  END AS effective_mime
FROM resolved""".replace("{pages_cte}", PAGES_CTE_DUCK)

def q_soft404_detect(spark, sf_dir):
    """Soft-404 detection (operators/soft404.py): titles/bodies are
    deterministically planted per doc_id family (phrase hits in title
    and body, error titles with tiny and rich bodies, tiny-deep stubs,
    clean pages), over the corpus's real 200/404 status mix."""
    from chrono_scraper_spark.operators.soft404 import soft404_flags

    pages = cdx_pages_view(spark, sf_dir).select(
        "url", "ts14", "doc_id", "status", "text")
    fam = F.col("doc_id") % 7
    title = (F.when(fam == 0, F.lit("Page Not Found"))
             .when(fam == 1, F.lit("404"))
             .when(fam == 2, F.lit("Error - maintenance notice"))
             .otherwise(F.concat(F.lit("doc "),
                                 F.col("doc_id").cast("string"))))
    body = (F.when(fam == 0, F.lit("Sorry."))
            .when(fam == 1, F.lit("nope"))
            .when(fam == 3, F.concat(
                F.lit("The requested URL was not found on this server. "),
                F.col("text")))
            .when(fam == 4, F.substring("text", 1, 100))
            .otherwise(F.col("text")))
    df = pages.select("url", "ts14",
                      F.col("status").alias("http_status"),
                      title.alias("title"), body.alias("text"))
    return soft404_flags(df).select(
        "url", "ts14", "http_status", "phrase_404", "title_error",
        "tiny_deep", "soft404_score", "is_soft404")

def _soft404_sql() -> str:
    from chrono_scraper_spark.operators.soft404 import (
        DEFAULT_TINY_CHARS,
        DEFAULT_THRESHOLD,
        PHRASE_404_RE,
        TITLE_ERROR_RE,
    )
    phrase = PHRASE_404_RE.replace("'", "''")
    terr = TITLE_ERROR_RE.replace("'", "''")
    return f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK}),
planted AS (
  SELECT url, ts14, status AS http_status,
    CASE doc_id % 7
      WHEN 0 THEN 'Page Not Found'
      WHEN 1 THEN '404'
      WHEN 2 THEN 'Error - maintenance notice'
      ELSE 'doc ' || CAST(doc_id AS VARCHAR)
    END AS title,
    CASE doc_id % 7
      WHEN 0 THEN 'Sorry.'
      WHEN 1 THEN 'nope'
      WHEN 3 THEN 'The requested URL was not found on this server. '
                  || text
      WHEN 4 THEN substring(text, 1, 100)
      ELSE text
    END AS text
  FROM pages_cdx
),
flags AS (
  SELECT url, ts14, http_status,
    (regexp_matches(lower(coalesce(title, '')), '{phrase}')
     OR regexp_matches(lower(substring(coalesce(text, ''), 1, 400)),
                       '{phrase}')) AS phrase_404,
    regexp_matches(lower(coalesce(title, '')), '{terr}') AS title_error,
    (length(coalesce(text, '')) < {DEFAULT_TINY_CHARS}
     AND len(list_filter(
           string_split(regexp_replace(regexp_replace(url,
             '^https?://[^/]*', ''), '[?#].*$', ''), '/'),
           x -> x <> '')) >= 2) AS tiny_deep
  FROM planted
)
SELECT url, ts14, http_status, phrase_404, title_error, tiny_deep,
  CAST(CASE WHEN phrase_404 THEN 3 ELSE 0 END
     + CASE WHEN title_error THEN 2 ELSE 0 END
     + CASE WHEN tiny_deep THEN 1 ELSE 0 END AS INT) AS soft404_score,
  (coalesce(http_status, 200) >= 200 AND coalesce(http_status, 200) < 300
   AND (CASE WHEN phrase_404 THEN 3 ELSE 0 END
      + CASE WHEN title_error THEN 2 ELSE 0 END
      + CASE WHEN tiny_deep THEN 1 ELSE 0 END) >= {DEFAULT_THRESHOLD})
  AS is_soft404
FROM flags"""

SQL_SOFT404_DETECT = _soft404_sql()

_MONTH_CASE_SPARK = (
    "CASE month(mxd) WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar' "
    "WHEN 4 THEN 'Apr' WHEN 5 THEN 'May' WHEN 6 THEN 'Jun' WHEN 7 THEN 'Jul' "
    "WHEN 8 THEN 'Aug' WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct' "
    "WHEN 11 THEN 'Nov' ELSE 'Dec' END")

def q_feed_discover(spark, sf_dir):
    """RSS/Atom feed parsing + freshness status (operators/feeds.py):
    per-host feed bodies are deterministically constructed (doc_id%2
    routes each URL into the host's RSS or Atom feed; doc_id%4 plants a
    pubDate/updated after the last capture → stale, long before → fresh,
    or no date; one feed-only item per host per kind → new), parsed with
    the RE2-shared regexes (RFC 822 pubDate normalized through the
    engine's locale-free English-month parse), and joined against the
    capture log."""
    from chrono_scraper_spark.operators.feeds import (
        feed_recrawl_status,
        parse_feeds,
    )

    pages = cdx_pages_view(spark, sf_dir)
    per_url = pages.groupBy("host", "url", "doc_id").agg(
        F.max(F.to_date("warc_ts")).alias("mxd"))
    pub_date = (F.when(F.col("doc_id") % 4 == 0,
                       F.date_add(F.col("mxd"), 400))
                .when(F.col("doc_id") % 4 == 1,
                      F.date_add(F.col("mxd"), -400))
                .when(F.col("doc_id") % 4 == 3,
                      F.date_add(F.col("mxd"), -1)))
    per_url = per_url.withColumn("pd", pub_date).withColumn(
        "mon", F.expr(_MONTH_CASE_SPARK.replace("mxd", "pd")))
    rfc822 = F.concat(
        F.lit("Mon, "), F.lpad(F.dayofmonth("pd").cast("string"), 2, "0"),
        F.lit(" "), F.col("mon"), F.lit(" "),
        F.year("pd").cast("string"), F.lit(" 04:05:06 GMT"))
    iso_upd = F.concat(F.date_format("pd", "yyyy-MM-dd"),
                       F.lit("T04:05:06Z"))
    rss_item = F.concat(
        F.lit("<item><title>t"), F.col("doc_id").cast("string"),
        F.lit("</title><link>"), F.col("url"), F.lit("</link>"),
        F.coalesce(F.concat(F.lit("<pubDate>"), rfc822,
                            F.lit("</pubDate>")), F.lit("")),
        F.lit("</item>"))
    atom_entry = F.concat(
        F.lit("<entry><title>t"), F.col("doc_id").cast("string"),
        F.lit('</title><link href="'), F.col("url"),
        F.lit('"/>'),
        F.coalesce(F.concat(F.lit("<updated>"), iso_upd,
                            F.lit("</updated>")), F.lit("")),
        F.lit("</entry>"))
    rss_bodies = (per_url.filter(F.col("doc_id") % 2 == 0)
                  .select("host", rss_item.alias("b"))
                  .groupBy("host")
                  .agg(F.concat(
                      F.lit('<?xml version="1.0"?><rss version="2.0">'
                            "<channel>"),
                      F.concat_ws("", F.array_sort(F.collect_list("b"))),
                      F.lit("<item><title>only</title><link>https://"),
                      F.col("host"),
                      F.lit("/feed-only-rss</link><pubDate>Mon, 01 Jan "
                            "2022 00:00:00 GMT</pubDate></item>"
                            "</channel></rss>")).alias("body")))
    atom_bodies = (per_url.filter(F.col("doc_id") % 2 == 1)
                   .select("host", atom_entry.alias("b"))
                   .groupBy("host")
                   .agg(F.concat(
                       F.lit('<?xml version="1.0"?><feed xmlns="a">'),
                       F.concat_ws("", F.array_sort(F.collect_list("b"))),
                       F.lit('<entry><title>only</title><link href='
                             '"https://'),
                       F.col("host"),
                       F.lit('/feed-only-atom"/><updated>2022-01-01T00:'
                             "00:00Z</updated></entry></feed>"))
                       .alias("body")))
    items = parse_feeds(rss_bodies.unionByName(atom_bodies))
    return feed_recrawl_status(items, pages)

SQL_FEED_DISCOVER = """
WITH pages_cdx AS ({pages_cte}),
per_url AS (
  SELECT host, url, doc_id, max(CAST(warc_ts AS DATE)) AS mxd
  FROM pages_cdx GROUP BY 1, 2, 3
),
dated AS (
  SELECT host, url, doc_id,
    CASE WHEN doc_id % 4 = 0 THEN mxd + 400
         WHEN doc_id % 4 = 1 THEN mxd - 400
         WHEN doc_id % 4 = 3 THEN mxd - 1
    END AS pd
  FROM per_url
),
-- the oracle derives each item's published_iso directly from pd (the
-- engine must round-trip it through RFC 822 / Atom text and back)
items AS (
  SELECT url,
    CASE WHEN pd IS NOT NULL
      THEN strftime(pd, '%Y-%m-%d') || 'T04:05:06' END AS published_iso,
    CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind
  FROM dated
  UNION ALL
  -- a host emits a feed-only item only when it HAS a feed of that kind
  SELECT DISTINCT 'https://' || host || '/feed-only-rss',
    '2022-01-01T00:00:00', 'rss' FROM per_url WHERE doc_id % 2 = 0
  UNION ALL
  SELECT DISTINCT 'https://' || host || '/feed-only-atom',
    '2022-01-01T00:00:00', 'atom' FROM per_url WHERE doc_id % 2 = 1
),
last AS (
  SELECT url, max(strftime(warc_ts, '%Y%m%d%H%M%S')) AS last_ts14
  FROM pages_cdx GROUP BY url
)
SELECT i.url, i.published_iso, l.last_ts14 AS last_capture_ts14,
  CASE WHEN l.last_ts14 IS NULL THEN 'new'
       WHEN i.published_iso IS NOT NULL AND i.published_iso >
         (substring(l.last_ts14, 1, 4) || '-'
          || substring(l.last_ts14, 5, 2) || '-'
          || substring(l.last_ts14, 7, 2) || 'T'
          || substring(l.last_ts14, 9, 2) || ':'
          || substring(l.last_ts14, 11, 2) || ':'
          || substring(l.last_ts14, 13, 2)) THEN 'stale'
       ELSE 'fresh' END AS status,
  i.kind
FROM items i LEFT JOIN last l ON i.url = l.url""".replace(
    "{pages_cte}", PAGES_CTE_DUCK)

def q_adaptive_budgets(spark, sf_dir):
    """AIMD politeness budgets (operators/politeness.adaptive_budgets):
    a synthetic fetch_log (6 rounds per host; every 17th doc plants a
    503) folds per host in round order — halve on an error round, +2 on
    a clean one. Both engines do the identical integer fold."""
    from chrono_scraper_spark.operators.politeness import adaptive_budgets

    pages = cdx_pages_view(spark, sf_dir)
    log = pages.select(
        "host",
        (F.col("doc_id") % 6).cast("int").alias("round_idx"),
        F.when(F.col("doc_id") % 17 == 0, 503).otherwise(200)
        .cast("int").alias("http_status"))
    return adaptive_budgets(log)

SQL_ADAPTIVE_BUDGETS = """
WITH pages_cdx AS ({pages_cte}),
log AS (
  SELECT host, CAST(doc_id % 6 AS INT) AS round_idx,
    CASE WHEN doc_id % 17 = 0 THEN 503 ELSE 200 END AS http_status
  FROM pages_cdx
),
flags AS (
  SELECT host, round_idx,
    max(CASE WHEN http_status IN (429, 500, 502, 503, 504)
        THEN 1 ELSE 0 END) AS err
  FROM log GROUP BY 1, 2
),
hist AS (
  SELECT host, list(err ORDER BY round_idx) AS fl FROM flags GROUP BY 1
)
SELECT host,
  CAST(list_reduce([8] || fl,
    (acc, e) -> CASE WHEN e = 1 THEN greatest(1, acc // 2)
                     ELSE least(64, acc + 2) END) AS INT) AS budget
FROM hist""".replace("{pages_cte}", PAGES_CTE_DUCK)

def q_latest_postings(spark, sf_dir):
    """Current-view index restriction (index.current_view_postings):
    postings built over EVERY capture, then semi-joined to each URL's
    newest capture key — the search-side twin of latest_captures.
    Output one row per surviving (url, ts14) with posting stats, so the
    oracle checks exactly which capture's postings remain."""
    from chrono_scraper_spark.operators.index import current_view_postings

    pages = cdx_pages_view(spark, sf_dir)
    pi = pages.select(F.col("url").alias("url_canon"), "ts14",
                      F.lit("").alias("title"),
                      F.col("text").alias("content"))
    inv = build_inverted_terms(pi)
    pages_out = pages.select(F.col("url").alias("url_canon"), "ts14")
    cur = current_view_postings(inv, pages_out)
    return (cur.groupBy("url_canon", "ts14")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("tf").alias("tf_sum")))

SQL_LATEST_POSTINGS = f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK}),
toks AS (
  SELECT url, ts14, unnest({OG.tokens_sql('text')}) AS term
  FROM pages_cdx
),
tf AS (
  SELECT url AS url_canon, ts14, term, count(*) AS tf
  FROM toks GROUP BY 1, 2, 3
),
latest AS (
  SELECT url AS url_canon, max(ts14) AS ts14 FROM pages_cdx GROUP BY 1
)
SELECT t.url_canon, t.ts14, CAST(count(*) AS BIGINT) AS n_terms,
  CAST(sum(tf) AS BIGINT) AS tf_sum
FROM tf t JOIN latest l
  ON t.url_canon = l.url_canon AND t.ts14 = l.ts14
GROUP BY 1, 2"""

def q_opic(spark, sf_dir):
    """OPIC importance (graph.opic_importance) over the same synthetic
    host edge list as host_authority — 3 synchronous cash/history
    rounds, integer-deterministic, bit-compared against the oracle's
    CTE replay of the identical arithmetic."""
    from chrono_scraper_spark.operators.graph import opic_importance

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
    edges = (pages.select(F.col("host").alias("src"), dst.alias("dst"))
             .distinct())
    return opic_importance(edges, rounds=3)

def _opic_iter_cte(i: int) -> str:
    return f"""s{i} AS MATERIALIZED (
  SELECT e.dst AS host, CAST(sum(c.cash // o.outdeg) AS BIGINT) AS s
  FROM edges e JOIN c{i} c ON e.src = c.host
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst),
v{i} AS MATERIALIZED (
  SELECT CAST(sum(CASE WHEN o.outdeg IS NULL THEN c.cash
                       ELSE c.cash % o.outdeg END) AS BIGINT) AS v
  FROM c{i} c LEFT JOIN outdeg o ON c.host = o.src),
c{i + 1} AS MATERIALIZED (
  SELECT h.host,
    CAST(coalesce(s.s, 0)
         + (SELECT v FROM v{i}) // (SELECT count(*) FROM hosts)
      AS BIGINT) AS cash,
    CAST(c.hist + c.cash AS BIGINT) AS hist
  FROM hosts h LEFT JOIN s{i} s ON h.host = s.host
  JOIN c{i} c ON h.host = c.host)"""

_OPIC_CHAIN = (f"WITH pages_cdx AS MATERIALIZED ({PAGES_CTE_DUCK}),\n"
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
c0 AS MATERIALIZED (SELECT host,
  CAST((SELECT 1000000000000 // count(*) FROM hosts) AS BIGINT) AS cash,
  CAST(0 AS BIGINT) AS hist
  FROM hosts),
""" + ",\n".join(_opic_iter_cte(i) for i in range(3)))

SQL_OPIC = (_OPIC_CHAIN
            + "\nSELECT host, CAST(hist + cash AS BIGINT) "
              "AS importance_nano FROM c3")

SQL_FRONTIER_PRIORITY_OPIC = (
    _OPIC_CHAIN
    + ",\nauth AS (SELECT host, CAST(hist + cash AS BIGINT) "
      "AS auth_nano FROM c3)"
    + _FRONTIER_FUSE_SQL)

def q_wat_identity(spark, sf_dir):
    """WAT (Common Crawl per-page metadata record) writer+parser
    round-trip: each URL's link set (extract_links over the constructed
    HTML, distinct targets, sorted), title and status are encoded as a
    per-record-gzipped ``WARC-Type: metadata`` JSON envelope
    (sources/warc.py::encode_wat_record) and parsed back in one pandas
    UDF; the oracle recomputes every field from the source rows."""
    import hashlib
    import json as _json

    from pyspark.sql import types as ST
    from pyspark.sql.functions import pandas_udf

    from chrono_scraper_spark.operators.links import extract_links
    from chrono_scraper_spark.sources.warc import (
        decode_warc_member,
        encode_wat_record,
    )

    pages = _linked_pages(spark, sf_dir)
    per_url = (extract_links(pages)
               .groupBy("src_url")
               .agg(F.array_sort(F.collect_set("dst_url")).alias("links")))
    meta = pages.groupBy("url").agg(
        F.max("ts14").alias("ts14"),
        F.max("status").alias("status"),
        F.max("doc_id").alias("mxid"))
    date_iso = F.concat(
        F.substring("ts14", 1, 4), F.lit("-"), F.substring("ts14", 5, 2),
        F.lit("-"), F.substring("ts14", 7, 2), F.lit("T"),
        F.substring("ts14", 9, 2), F.lit(":"), F.substring("ts14", 11, 2),
        F.lit(":"), F.substring("ts14", 13, 2), F.lit("Z"))
    joined = (meta.join(per_url, meta.url == per_url.src_url, "left")
              .select("url", "ts14", "status",
                      F.concat(F.lit("doc "), F.col("mxid").cast("string"))
                      .alias("title"),
                      date_iso.alias("date_iso"),
                      F.coalesce("links", F.array().cast("array<string>"))
                      .alias("links")))

    schema = ST.StructType([
        ST.StructField("title_rt", ST.StringType()),
        ST.StructField("status_rt", ST.IntegerType()),
        ST.StructField("n_links", ST.IntegerType()),
        ST.StructField("links_md5", ST.StringType()),
        ST.StructField("is_metadata", ST.BooleanType()),
    ])

    @pandas_udf(schema)
    def roundtrip(url, date_iso, title, status, links):
        import pandas as pd
        cols = {k: [] for k in ("title_rt", "status_rt", "n_links",
                                "links_md5", "is_metadata")}
        for u, d, t, s, lk in zip(url, date_iso, title, status, links):
            rec = decode_warc_member(encode_wat_record(
                u, d, title=t, http_status=int(s), links=list(lk)))
            env = _json.loads(rec["payload"])
            hm = env["Envelope"]["Payload-Metadata"][
                "HTTP-Response-Metadata"]
            urls = [x["url"] for x in hm["HTML-Metadata"]["Links"]]
            cols["title_rt"].append(hm["HTML-Metadata"]["Head"]["Title"])
            cols["status_rt"].append(hm["Response-Message"]["Status"])
            cols["n_links"].append(len(urls))
            cols["links_md5"].append(
                hashlib.md5("|".join(urls).encode()).hexdigest())
            cols["is_metadata"].append(rec["warc_type"] == "metadata")
        return pd.DataFrame(cols)

    rt = roundtrip("url", "date_iso", "title", "status", "links")
    return joined.select("url", "ts14", rt.alias("rt")).select(
        "url", "ts14", "rt.title_rt", "rt.status_rt", "rt.n_links",
        "rt.links_md5", "rt.is_metadata")

SQL_WAT_IDENTITY = ("WITH " + _LINKS_CTES + """,
lk AS (
  SELECT src_url, list_sort(list(DISTINCT dst_url)) AS ls
  FROM links GROUP BY src_url
),
meta AS (
  SELECT url, max(ts14) AS ts14, max(status) AS status,
    max(doc_id) AS mxid
  FROM pages_cdx GROUP BY url
)
SELECT m.url, m.ts14,
  'doc ' || CAST(m.mxid AS VARCHAR) AS title_rt,
  CAST(m.status AS INT) AS status_rt,
  CAST(coalesce(len(l.ls), 0) AS INT) AS n_links,
  md5(coalesce(array_to_string(l.ls, '|'), '')) AS links_md5,
  TRUE AS is_metadata
FROM meta m LEFT JOIN lk l ON m.url = l.src_url""")

def q_pct_normalize(spark, sf_dir):
    """RFC 3986 §6.2.2 percent-encoding normalization
    (functions/urls.pct_normalize): corpus URLs get planted escape
    suffixes per doc_id family (lowercase reserved escape, encoded
    unreserved chars, double-encoded percent, multibyte UTF-8 escapes,
    stray/invalid percents) — uppercase-hex + decode-unreserved must
    agree byte-for-byte with the oracle's transform."""
    from chrono_scraper_spark.functions.urls import pct_normalize

    pages = cdx_pages_view(spark, sf_dir).select("url", "ts14", "doc_id")
    suffix = (F.when(F.col("doc_id") % 6 == 0, "?a=x%2fy")
              .when(F.col("doc_id") % 6 == 1, "/%61%62c")
              .when(F.col("doc_id") % 6 == 2, "/100%25%2525")
              .when(F.col("doc_id") % 6 == 3, "/caf%c3%a9")
              .when(F.col("doc_id") % 6 == 4, "/50%")
              .otherwise("/x%7e%5A%1G"))
    planted = pages.select(
        "ts14", F.concat("url", suffix).alias("url"))
    return planted.select("url", "ts14",
                          pct_normalize(F.col("url")).alias("normalized"))

SQL_PCT_NORMALIZE = """
WITH pages_cdx AS ({pages_cte}),
planted AS (
  SELECT ts14,
    url || CASE doc_id % 6
      WHEN 0 THEN '?a=x%2fy'
      WHEN 1 THEN '/%61%62c'
      WHEN 2 THEN '/100%25%2525'
      WHEN 3 THEN '/caf%c3%a9'
      WHEN 4 THEN '/50%'
      ELSE '/x%7e%5A%1G'
    END AS url
  FROM pages_cdx
),
parts AS (SELECT url, ts14, string_split(url, '%') AS p FROM planted)
SELECT url, ts14,
  p[1] || coalesce(list_aggregate(list_transform(p[2:], x ->
    CASE WHEN NOT regexp_matches(x, '^[0-9A-Fa-f]{2}') THEN '%' || x
         WHEN upper(x[1:2]) >= '80' THEN '%' || upper(x[1:2]) || x[3:]
         WHEN regexp_matches(decode(unhex(upper(x[1:2]))),
                             '^[A-Za-z0-9._~-]$')
           THEN decode(unhex(upper(x[1:2]))) || x[3:]
         ELSE '%' || upper(x[1:2]) || x[3:] END),
    'string_agg', ''), '') AS normalized
FROM parts""".replace("{pages_cte}", PAGES_CTE_DUCK)

def q_script_profile(spark, sf_dir):
    """Unicode-script composition (textops.script_profile): corpus text
    gets planted non-Latin samples per doc_id family (Cyrillic, Han,
    Arabic, Hangul, Devanagari, Greek, Latin-only) — per-script counts,
    integer ppm shares and the dominant script must match the oracle's
    RE2 \\p{Script} counts exactly (Java spells the same classes
    IsLatin/IsHan/…)."""
    from chrono_scraper_spark.functions.textops import script_profile

    pages = cdx_pages_view(spark, sf_dir).select(
        "url", "ts14", "doc_id", "text")
    base = F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "")
    planted = (F.when(F.col("doc_id") % 7 == 0,
                      F.concat(base, F.lit(" АБВГ дежз")))
               .when(F.col("doc_id") % 7 == 1,
                     F.concat(base, F.lit(" 漢字漢字漢")))
               .when(F.col("doc_id") % 7 == 2,
                     F.concat(base, F.lit(" العربية")))
               .when(F.col("doc_id") % 7 == 3,
                     F.concat(base, F.lit(" 한국어 텍스트")))
               .when(F.col("doc_id") % 7 == 4,
                     F.concat(base, F.lit(" हिन्दी")))
               .when(F.col("doc_id") % 7 == 5,
                     F.concat(base, F.lit(" ελληνικά")))
               .otherwise(base))
    df = pages.select("url", "ts14", planted.alias("text"))
    return script_profile(df).drop("text")

def _script_profile_sql() -> str:
    from chrono_scraper_spark.functions.textops import E6, SCRIPTS
    counts = ",\n    ".join(
        f"CAST(length(regexp_replace(text, '[^\\p{{{re2}}}]', '', 'g')) "
        f"AS BIGINT) AS n_{name}"
        for name, _java, re2 in SCRIPTS)
    total = " + ".join(f"n_{name}" for name, _j, _r in SCRIPTS)
    ppms = ",\n  ".join(
        f"CAST(CASE WHEN script_total > 0 "
        f"THEN (n_{name} * {E6}) // script_total ELSE 0 END AS BIGINT) "
        f"AS {name}_ppm"
        for name, _j, _r in SCRIPTS)
    # dominant: max (count, name) struct — tie-break name DESC, same as
    # the engine's greatest() over (n, s) structs
    dom = ("(SELECT max(struct_pack(n := x.n, s := x.s)).s FROM (VALUES "
           + ", ".join(f"(n_{name}, '{name}')" for name, _j, _r in SCRIPTS)
           + ") AS x(n, s))")
    return f"""
WITH pages_cdx AS ({PAGES_CTE_DUCK}),
planted AS (
  SELECT url, ts14,
    regexp_replace(substring(text, 1, 40), '[^ -~]', '', 'g') ||
    CASE doc_id % 7
      WHEN 0 THEN ' АБВГ дежз'
      WHEN 1 THEN ' 漢字漢字漢'
      WHEN 2 THEN ' العربية'
      WHEN 3 THEN ' 한국어 텍스트'
      WHEN 4 THEN ' हिन्दी'
      WHEN 5 THEN ' ελληνικά'
      ELSE ''
    END AS text
  FROM pages_cdx
),
counted AS (
  SELECT url, ts14,
    {counts}
  FROM planted
),
totaled AS (
  SELECT *, CAST({total} AS BIGINT) AS script_total FROM counted
)
SELECT url, ts14,
  {", ".join(f"n_{name}" for name, _j, _r in SCRIPTS)},
  script_total,
  {ppms},
  CASE WHEN script_total > 0 THEN {dom} END AS dominant_script
FROM totaled"""

SQL_SCRIPT_PROFILE = _script_profile_sql()

def q_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal (quality.with_compression_ratio):
    zlib ratio per document — rows-only (zlib is not SQL-expressible;
    the python twin lives in test_quality), like bpe_merges."""
    from chrono_scraper_spark.operators.quality import (
        with_compression_ratio,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_compression_ratio(d).drop("text")
