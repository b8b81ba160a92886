"""Full-text search: match, typo, facets, ranked rule chain.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.operators.index import build_inverted_terms, tokenize

from ._shared import _PRELUDE, _t


_FTS_QUERY = ["data", "query", "window"]

def q_fulltext_match(spark, sf_dir):
    """Round-6 shape change (output identical, oracle unchanged): the
    3-term ad-hoc match is now ``index.match_terms_scan`` — one
    zero-exchange codegen pass — instead of building the full inverted
    index (explode every token, two exchanges) to answer a 3-term query.
    Equivalence: tests/test_index.py::test_match_terms_scan_equivalence +
    the unchanged DuckDB oracle hash."""
    from chrono_scraper_spark.operators.index import match_terms_scan

    d = _t(spark, sf_dir, "documents")
    return match_terms_scan(d, _FTS_QUERY)

SQL_FULLTEXT_MATCH = f"""
WITH toks AS (
  SELECT doc_id, unnest({OG.tokens_sql('text')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
),
q AS (SELECT unnest(['{"','".join(_FTS_QUERY)}']) AS term)
SELECT doc_id, count(DISTINCT tf.term) AS matched_terms,
  CAST(sum(tf) AS BIGINT) AS tf_sum
FROM tf JOIN q ON tf.term = q.term
GROUP BY doc_id"""

def q_saved_query_match(spark, sf_dir):
    """Saved-query alerting (operators/alerts.py): a table of standing
    searches matched against the documents — a doc matches when it
    contains EVERY query term (AND semantics, engine tokenizer). The
    corpus tokenizes once; the query-term table broadcasts."""
    from chrono_scraper_spark.operators.alerts import match_saved_queries

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    saved = spark.createDataFrame(
        [(1, "data window"), (2, "merge batch spark"),
         (3, "zzqx-no-such-term"), (4, "")],
        "query_id int, query string")
    return match_saved_queries(d, saved)

SQL_SAVED_QUERY_MATCH = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({OG.tokens_sql('text')}) AS term
  FROM documents
),
saved AS (
  SELECT * FROM (VALUES (1, 'data window'),
                        (2, 'merge batch spark'),
                        (3, 'zzqx-no-such-term'), (4, '')) s(query_id, q)
),
qterms AS (
  SELECT DISTINCT query_id, unnest({OG.tokens_sql('q')}) AS term FROM saved
),
nq AS (SELECT query_id, count(*) AS _nq FROM qterms GROUP BY 1),
hits AS (
  SELECT t.doc_id, qt.query_id, count(*) AS _nm
  FROM toks t JOIN qterms qt ON t.term = qt.term
  GROUP BY 1, 2
)
SELECT h.query_id, h.doc_id
FROM hits h JOIN nq ON h.query_id = nq.query_id
WHERE h._nm = nq._nq"""

def q_bm25_rank(spark, sf_dir):
    """Okapi BM25 relevance over the documents inverted index (engine
    addition beyond the Meilisearch rule chain — ``index.bm25_rank``).
    Nano-floored per-(doc, term) partials summed as longs make the score
    bit-identical across engines and partitionings."""
    from chrono_scraper_spark.operators.index import bm25_rank

    d = _t(spark, sf_dir, "documents")
    pi = d.select(F.col("doc_id").cast("string").alias("url_canon"),
                  F.lit("0").alias("ts14"), F.lit("").alias("title"),
                  F.col("text").alias("content"))
    # in production the inverted index is a stored table; materialize the
    # derived one so the doclen pass and the hits probe don't each re-run
    # the tokenize+explode+agg
    inv = build_inverted_terms(pi).localCheckpoint(eager=True)
    out = bm25_rank(inv, list(_FTS_QUERY), doc_cols=("url_canon", "ts14"))
    return out.select(F.col("url_canon").cast("long").alias("doc_id"),
                      "matched_terms", "tf_sum", "bm25_e9")

SQL_BM25_RANK = f"""
WITH toks AS (
  SELECT doc_id, unnest({OG.tokens_sql('text')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
),
q AS (SELECT unnest(['{"','".join(_FTS_QUERY)}']) AS term),
hits AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN q USING (term)),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY 1),
sc AS (
  SELECT h.doc_id, h.term, h.tf,
    CAST(floor(
      ln(1.0 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
      * (h.tf * (1.2 + 1.0))
      / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))
      * 1e9) AS BIGINT) AS s_nano
  FROM hits h JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st
)
SELECT doc_id, count(DISTINCT term) AS matched_terms,
  CAST(sum(tf) AS BIGINT) AS tf_sum, CAST(sum(s_nano) AS BIGINT) AS bm25_e9
FROM sc GROUP BY doc_id"""

def _doc_index(spark, sf_dir):
    """documents as a (page_index, inverted_terms) pair for search queries."""
    d = _t(spark, sf_dir, "documents")
    pi = d.select(
        F.col("doc_id").cast("string").alias("url_canon"),
        F.lit("0").alias("ts14"), "lang", "source",
        F.when(F.col("n_chars") < 150, "short")
        .when(F.col("n_chars") < 350, "medium")
        .otherwise("long").alias("len_bucket"),
        F.col("text").alias("content"), F.lit("").alias("title"))
    inv = build_inverted_terms(pi)
    return pi, inv

def q_facet_counts(spark, sf_dir):
    """Faceted search (meilisearch_service.py:353-412 ``facets`` param;
    shared_pages_meilisearch.py:497-502): per-facet value counts over the
    pages matching >=1 query term."""
    from chrono_scraper_spark.operators.index import search_facets

    pi, inv = _doc_index(spark, sf_dir)
    return search_facets(pi, inv, " ".join(_FTS_QUERY),
                         ["lang", "source", "len_bucket"])

SQL_FACET_COUNTS = f"""
WITH toks AS (
  SELECT doc_id, unnest({OG.tokens_sql('text')}) AS term FROM documents
),
q AS (SELECT unnest(['{"','".join(_FTS_QUERY)}']) AS term),
matched AS (
  SELECT DISTINCT doc_id FROM toks JOIN q ON toks.term = q.term
),
md AS (
  SELECT d.doc_id, d.lang, d.source,
    CASE WHEN d.n_chars < 150 THEN 'short'
         WHEN d.n_chars < 350 THEN 'medium' ELSE 'long' END AS len_bucket
  FROM documents d JOIN matched m ON d.doc_id = m.doc_id
)
SELECT 'lang' AS facet, lang AS value, count(*) AS n FROM md GROUP BY 2
UNION ALL
SELECT 'source' AS facet, source AS value, count(*) AS n FROM md GROUP BY 2
UNION ALL
SELECT 'len_bucket' AS facet, len_bucket AS value, count(*) AS n
FROM md GROUP BY 2"""

_TYPO_QUERY = ["dta", "windw", "query"]

def q_fulltext_typo(spark, sf_dir):
    """Typo-tolerant match (meilisearch_service.py:454-470 typo rule):
    query terms expand to edit-distance<=1 vocabulary terms; per-document
    match stats distinguish exact from typo matches."""
    from chrono_scraper_spark.operators.index import expand_terms_typo

    pi, inv = _doc_index(spark, sf_dir)
    expanded = expand_terms_typo(inv, _TYPO_QUERY, max_edit=1)
    hits = inv.join(F.broadcast(expanded), "term", "inner")
    return (hits.groupBy("url_canon")
            .agg(F.countDistinct("query_term").alias("matched_terms"),
                 F.countDistinct(
                     F.when(F.col("edit_dist") == 0, F.col("query_term")))
                 .alias("exact_terms"),
                 F.sum("tf").alias("tf_sum"))
            .select(F.col("url_canon").cast("long").alias("doc_id"),
                    "matched_terms", "exact_terms", "tf_sum"))

SQL_FULLTEXT_TYPO = f"""
WITH toks AS (
  SELECT doc_id, unnest({OG.tokens_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT DISTINCT term FROM tf),
q AS (SELECT unnest(['{"','".join(_TYPO_QUERY)}']) AS query_term),
expanded AS (
  SELECT v.term, q.query_term,
         levenshtein(v.term, q.query_term) AS edit_dist
  FROM vocab v JOIN q
    ON abs(length(v.term) - length(q.query_term)) <= 1
   AND levenshtein(v.term, q.query_term) <= 1
)
SELECT tf.doc_id,
  count(DISTINCT e.query_term) AS matched_terms,
  count(DISTINCT CASE WHEN e.edit_dist = 0 THEN e.query_term END)
    AS exact_terms,
  CAST(sum(tf.tf) AS BIGINT) AS tf_sum
FROM tf JOIN expanded e ON tf.term = e.term
GROUP BY tf.doc_id"""

def q_fulltext_proximity(spark, sf_dir):
    """TRUE proximity ranking rule (Meilisearch rule #3,
    shared_pages_meilisearch.py:167-176): per-document min pairwise token
    distance between occurrences of two DIFFERENT query terms, from the
    positional index's per-term position arrays. Engine computes it with a
    sorted adjacent-occurrence scan (O(m log m)/doc in codegen,
    operators/index.py::min_pair_distance); the oracle uses the equivalent
    all-pairs relational min. Docs matching a single term get null."""
    from chrono_scraper_spark.operators.index import min_pair_distance

    d = _t(spark, sf_dir, "documents")
    pi = d.select(F.col("doc_id").cast("string").alias("url_canon"),
                  F.lit("0").alias("ts14"), F.lit("").alias("title"),
                  F.col("text").alias("content"))
    inv = build_inverted_terms(pi, positions=True)
    qdf = spark.createDataFrame([(t,) for t in _FTS_QUERY], "term string")
    hits = inv.join(F.broadcast(qdf), "term")
    return (hits.groupBy("url_canon")
            .agg(F.countDistinct("term").alias("matched_terms"),
                 F.sum("tf").alias("tf_sum"),
                 min_pair_distance(
                     F.collect_list(F.struct("term", "pos_arr")))
                 .alias("proximity"))
            .select(F.col("url_canon").cast("long").alias("doc_id"),
                    "matched_terms", "tf_sum", "proximity"))

SQL_FULLTEXT_PROXIMITY = f"""
WITH docs AS (
  SELECT doc_id, {OG.tokens_sql('text')} AS toks FROM documents
),
toks AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM docs
),
q AS (SELECT unnest(['{"','".join(_FTS_QUERY)}']) AS term),
hits AS (
  SELECT t.doc_id, t.term, t.pos FROM toks t JOIN q ON t.term = q.term
),
agg AS (
  SELECT doc_id, count(DISTINCT term) AS matched_terms,
    CAST(count(*) AS BIGINT) AS tf_sum
  FROM hits GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS INT) AS proximity
  FROM hits a JOIN hits b
    ON a.doc_id = b.doc_id AND a.term <> b.term
  GROUP BY a.doc_id
)
SELECT agg.doc_id, agg.matched_terms, agg.tf_sum, p.proximity
FROM agg LEFT JOIN pairs p ON agg.doc_id = p.doc_id"""

_HL_QUERY = ["data", "query", "window"]

def q_search_highlight(spark, sf_dir):
    """Highlight + crop (meilisearch_service.py:186-197): 10-word
    word-boundary snippet around the first matched term, all matched terms
    wrapped in <em></em>, ellipsis where the crop cut. Pure column
    expressions (operators/index.py::with_snippet); docs with no match are
    absent."""
    from chrono_scraper_spark.operators.index import with_snippet

    d = _t(spark, sf_dir, "documents")
    out = with_snippet(d.select("doc_id", F.col("text").alias("content")),
                       _HL_QUERY, "content")
    return (out.filter(F.col("snippet").isNotNull())
            .select("doc_id", "snippet"))

_HL_IN = "'" + "','".join(_HL_QUERY) + "'"

SQL_SEARCH_HIGHLIGHT = rf"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(coalesce(text, ''), '[^\p{{L}}\p{{N}}]+'),
                t -> t != '') AS ws
  FROM documents
),
flat AS (
  SELECT doc_id, unnest(ws) AS wd, generate_subscripts(ws, 1) - 1 AS i
  FROM w
),
fi AS (
  SELECT doc_id, min(i) AS fi FROM flat
  WHERE lower(wd) IN ({_HL_IN}) GROUP BY doc_id
),
crop AS (
  SELECT w.doc_id, w.ws, greatest(0, fi.fi - 3) AS s
  FROM w JOIN fi ON w.doc_id = fi.doc_id
)
SELECT doc_id,
  (CASE WHEN s > 0 THEN '…' ELSE '' END)
  || array_to_string(
       list_transform(ws[s + 1 : s + 10],
         x -> CASE WHEN lower(x) IN ({_HL_IN})
                   THEN '<em>' || x || '</em>' ELSE x END), ' ')
  || (CASE WHEN s + 10 < len(ws) THEN '…' ELSE '' END) AS snippet
FROM crop"""

_RANKED_QUERY = "data query windw"

_RANKED_PLANTED = [
    (10000001, "data query windw", 9),
    (10000002, "data query windw extra", 9),
    (10000003, "data query windw", 10),
    (10000004, "data query window", 9),
    (10000005, "data pad query pad windw", 9),
    (10000006, "pad data query windw", 9),
    (10000007, "data windw query", 9),
]

def q_fulltext_ranked(spark, sf_dir):
    """ONE unified search applying the reference's full Meilisearch rule
    chain in configured order (shared_pages_meilisearch.py:167-176):
    words → typo → proximity → attribute → sort(no-op) → exactness →
    quality_score:desc → word_count:desc (operators/index.py::
    ranked_match_set). The emitted ``rank`` column freezes
    the total order, so the value hash verifies the CHAIN, not just the
    per-rule scores. Planted docs guarantee every rule decides an adjacent
    pair (see _RANKED_PLANTED)."""
    from chrono_scraper_spark.operators.index import ranked_match_set

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        ((F.col("doc_id") * 7) % 5).cast("int").alias("quality"))
    planted = spark.createDataFrame(
        _RANKED_PLANTED, "doc_id long, text string, quality int")
    docs = d.unionByName(planted)
    pi = docs.select(
        F.col("doc_id").cast("string").alias("url_canon"),
        F.lit("0").alias("ts14"), F.lit("").alias("title"),
        F.col("text").alias("content"),
        F.col("quality").alias("quality_score"),
        F.size(tokenize(F.col("text"))).cast("long").alias("word_count"))
    inv = build_inverted_terms(pi, positions=True)
    scored = ranked_match_set(pi, inv, _RANKED_QUERY, max_edit=1)
    out = scored.join(pi.select("url_canon", "ts14", "quality_score",
                                "word_count"), ["url_canon", "ts14"])
    w = Window.orderBy(
        F.desc("matched_terms"), F.asc("typo_cost"),
        F.asc_nulls_last("proximity"), F.asc_nulls_last("best_pos"),
        F.desc("exact_phrase"), F.desc("quality_score"),
        F.desc("word_count"), F.asc(F.col("url_canon").cast("long")))
    return out.select(
        F.col("url_canon").cast("long").alias("doc_id"),
        F.row_number().over(w).cast("long").alias("rank"),
        "matched_terms", "typo_cost", "proximity", "best_pos",
        "exact_phrase", "quality_score", "word_count")

_RANKED_VALUES = ", ".join(f"({i}, '{t}', {q})"
                           for i, t, q in _RANKED_PLANTED)

SQL_FULLTEXT_RANKED = f"""
WITH base AS (
  SELECT doc_id, text, CAST((doc_id * 7) % 5 AS INT) AS quality
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), text, CAST(quality AS INT)
  FROM (VALUES {_RANKED_VALUES}) v(doc_id, text, quality)
),
docs AS (
  SELECT doc_id, quality, {OG.tokens_sql('text')} AS toks FROM base
),
toks AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM docs
),
vocab AS (SELECT DISTINCT term FROM toks),
q AS (SELECT unnest(['data', 'query', 'windw']) AS query_term),
expanded AS (
  SELECT v.term, q.query_term,
         levenshtein(v.term, q.query_term) AS edit_dist
  FROM vocab v JOIN q
    ON abs(length(v.term) - length(q.query_term)) <= 1
   AND levenshtein(v.term, q.query_term) <= 1
),
hits AS (
  SELECT t.doc_id, e.query_term, e.edit_dist, t.pos
  FROM toks t JOIN expanded e ON t.term = e.term
),
per_qt AS (
  SELECT doc_id, query_term, min(edit_dist) AS ed, min(pos) AS first_pos
  FROM hits GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS matched_terms,
         CAST(sum(ed) AS BIGINT) AS typo_cost,
         CAST(min(first_pos) AS INT) AS best_pos
  FROM per_qt GROUP BY 1
),
prox AS (
  SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS INT) AS proximity
  FROM hits a JOIN hits b
    ON a.doc_id = b.doc_id AND a.query_term <> b.query_term
  GROUP BY 1
),
phrase AS (
  SELECT DISTINCT t0.doc_id FROM toks t0
  JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
              AND t1.term = 'query'
  JOIN toks t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
              AND t2.term = 'windw'
  WHERE t0.term = 'data'
),
wc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS word_count, quality
       FROM docs),
scored AS (
  SELECT agg.doc_id, agg.matched_terms, agg.typo_cost, p.proximity,
         agg.best_pos, (ph.doc_id IS NOT NULL) AS exact_phrase,
         wc.quality AS quality_score, wc.word_count
  FROM agg
  LEFT JOIN prox p ON agg.doc_id = p.doc_id
  LEFT JOIN phrase ph ON agg.doc_id = ph.doc_id
  JOIN wc ON wc.doc_id = agg.doc_id
)
SELECT doc_id,
  CAST(row_number() OVER (ORDER BY matched_terms DESC, typo_cost ASC,
       proximity ASC NULLS LAST, best_pos ASC, exact_phrase DESC,
       quality_score DESC, word_count DESC, doc_id ASC) AS BIGINT) AS rank,
  matched_terms, typo_cost, proximity, best_pos, exact_phrase,
  quality_score, word_count
FROM scored"""

def q_pagination(spark, sf_dir):
    """O3 offset pagination over a deterministic total order (Meilisearch
    limit/offset paging, meilisearch_service.py:356)."""
    return (cdx_pages_view(spark, sf_dir)
            .select("url", "ts14")
            .orderBy("url", "ts14")
            .offset(100).limit(50))

SQL_PAGINATION = _PRELUDE + """
SELECT url, ts14 FROM pages_cdx
ORDER BY url, ts14 LIMIT 50 OFFSET 100"""

def q_entity_extract(spark, sf_dir):
    """Deterministic NER analog (entity_backends.py:15-116 stands in via
    regex families, like langid for langdetect): entities are planted into
    the lowercase corpus text by an identical portable suffix on both
    engines, then extracted per mention."""
    from chrono_scraper_spark.functions.entities import extract_entities

    d = _t(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" Contact Alice Johnson at alice@example.com on 2021-07-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        F.lit(" see https://ref.example.org/item-"),
        F.col("doc_id").cast("string"),
        F.lit(" cost $"), (F.col("doc_id") % 100).cast("string"),
        F.lit(".50"))
    docs = d.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    out = docs.select(
        "doc_id", F.explode(extract_entities(F.col("text"))).alias("e"))
    return out.select("doc_id",
                      F.col("e.entity_type").alias("entity_type"),
                      F.col("e.entity").alias("entity"))

def _entity_oracle_sql() -> str:
    from chrono_scraper_spark.functions.entities import ENTITY_PATTERNS

    suffix = ("' Contact Alice Johnson at alice@example.com on 2021-07-' || "
              "lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || "
              "' see https://ref.example.org/item-' || "
              "CAST(doc_id AS VARCHAR) || "
              "' cost $' || CAST(doc_id % 100 AS VARCHAR) || '.50'")
    unions = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{etype}' AS entity_type, "
        f"unnest(regexp_extract_all(text2, '{pat}')) AS entity FROM d2"
        for etype, pat in ENTITY_PATTERNS)
    return (f"WITH d2 AS (SELECT doc_id, text || {suffix} AS text2 "
            f"FROM documents)\n{unions}")

SQL_ENTITY_EXTRACT = _entity_oracle_sql()
