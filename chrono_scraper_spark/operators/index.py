"""Full-text page index: tokenization, inverted-term table, ranked search.

The reference delegates indexing to Meilisearch (S9/J7,
shared_pages_meilisearch.py:26-111): documents with searchable fields and
ranking rules ``words, …, quality_score:desc, word_count:desc`` (:167-176).
The engine's analog is explicit and queryable with Spark SQL (north_rule):

- ``page_index``      — one row per indexed page (flat document model);
- ``inverted_terms``  — ``(term, url_canon, ts14, tf)`` built by explode;
- search = broadcast-join the (tiny) query-term list against
  ``inverted_terms``, aggregate per page, rank by
  (matched_terms desc, tf_sum desc, quality_score desc, word_count desc).

Everything is built-in expressions — tokenization is a regex split, not a
UDF (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Unicode letters/digits tokenizer, lower-cased — deterministic analog of the
# Meilisearch default segmenter for latin text.
_TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"


def tokenize(text: Column) -> Column:
    """array<string> of non-empty lower-case tokens."""
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), _TOKEN_SPLIT_RE),
        lambda t: t != F.lit(""),
    )


def tokenize_query(q: str) -> list[str]:
    """Driver-side tokenizer for query strings — must agree with
    ``tokenize``: split on anything that is not a letter/digit, INCLUDING
    underscore (Python ``\\w`` keeps ``_``; the JVM class ``[^\\p{L}\\p{N}]``
    does not, so ``[\\W_]`` is the matching Python class)."""
    import re

    return [t for t in re.split(r"[\W_]+", q.lower()) if t]


def build_page_index(pages_out: DataFrame) -> DataFrame:
    """Flat searchable document per page (SharedPageDocument analog,
    shared_pages_meilisearch.py:26-111). Expects extraction + quality columns.
    ``seq`` (the crawl's global-order long id) passes through when present —
    it doubles as the compact doc key for the inverted-terms build."""
    cols = [
        "url", "url_canon", "ts14", "host",
        F.col("extracted.title").alias("title"),
        F.col("extracted.text").alias("content"),
        F.col("extracted.word_count").alias("word_count"),
        "quality_score", "lang", "warc_ts",
    ]
    if "seq" in pages_out.columns:
        cols.append("seq")
    return pages_out.select(*cols)


def page_index_from_pages_out(pages_out: DataFrame) -> DataFrame:
    """The searchable-document table DERIVED from the committed
    ``pages_out`` snapshot — a pure projection, so the crawl never writes
    the (large) text content twice. Iceberg analog: a view."""
    return pages_out.select(
        "url", "url_canon", "ts14", "host", "title",
        F.col("extracted_text").alias("content"),
        "word_count", "quality_score", "lang", "warc_ts",
    )


def build_inverted_terms(page_index: DataFrame,
                         doc_key: str | None = None,
                         positions: bool = False) -> DataFrame:
    """Explode title+content tokens → (term, url_canon, ts14, tf).

    One shuffle (the groupBy); at 100 TB the table is Iceberg-partitioned by
    ``bucket(term)`` so a query's term list prunes to a few buckets.

    ``doc_key``: name of an existing unique-per-page LONG column (the
    crawl passes its global-order ``seq``). The token aggregation then
    groups on (term, doc_key) — an 8-byte key instead of ~70 bytes of
    url+ts strings carried through the explode projection, map-side hash
    aggregation, and exchange — and (url_canon, ts14) is re-attached by a
    broadcast join against the per-page key map afterwards. Output
    identical (equivalence-tested); measured 23 s → 15 s on a 92k-page /
    45M-token round. Valid while one round's page set fits a broadcast
    (politeness-budget-bounded); omit for unbounded inputs.

    ``positions=True`` additionally stores ``first_pos`` — the 0-based
    token position of the term's first occurrence (title tokens precede
    content tokens) — feeding the position/attribute ranking rule
    (Meilisearch ``attribute`` rule analog, meilisearch_service.py:454-470)
    — plus ``pos_arr``, the sorted array of ALL the term's occurrence
    positions in the doc, feeding the true pairwise-distance ``proximity``
    rule (both in ``ranked_match_set``). posexplode
    instead of explode; same single shuffle (pos_arr rides the existing
    (term, doc) aggregation as a collect_list).
    """
    all_toks = F.concat(tokenize(F.col("title")), tokenize(F.col("content")))
    aggs = [F.count(F.lit(1)).alias("tf")]
    if positions:
        aggs.append(F.min("pos").cast("int").alias("first_pos"))
        aggs.append(F.array_sort(F.collect_list(F.col("pos").cast("int")))
                    .alias("pos_arr"))
    out_cols = ["term", "url_canon", "ts14", "tf"] + (
        ["first_pos", "pos_arr"] if positions else [])
    if doc_key is None:
        toks = page_index.select(
            "url_canon", "ts14",
            F.posexplode(all_toks).alias("pos", "term"),
        )
        return toks.groupBy("term", "url_canon", "ts14").agg(*aggs) \
            .select(*out_cols)
    keymap = page_index.select(
        F.col(doc_key).alias("__doc"), "url_canon", "ts14")
    toks = page_index.select(
        F.col(doc_key).alias("__doc"),
        F.posexplode(all_toks).alias("pos", "term"),
    )
    agg = toks.groupBy("term", "__doc").agg(*aggs)
    return agg.join(F.broadcast(keymap), "__doc").select(*out_cols)


def search(page_index: DataFrame, inverted_terms: DataFrame, query: str,
           limit: int = 20, offset: int = 0) -> DataFrame:
    """Ranked full-text match (J7). Ranking follows the reference's rule
    order analog: #matched terms desc (words), total tf desc (proximity/
    exactness proxy), then quality_score desc, word_count desc
    (shared_pages_meilisearch.py:167-176); deterministic final tie-break on
    (url_canon, ts14). ``offset`` pages through the ranked list (O3 —
    Meilisearch limit/offset, meilisearch_service.py:356)."""
    terms = tokenize_query(query)
    spark = page_index.sparkSession
    if not terms:
        return page_index.limit(0).withColumns(
            {"matched_terms": F.lit(0).cast("long"),
             "tf_sum": F.lit(0).cast("long")})
    qdf = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    hits = inverted_terms.join(F.broadcast(qdf), "term", "inner")
    scored = hits.groupBy("url_canon", "ts14").agg(
        F.countDistinct("term").alias("matched_terms"),
        F.sum("tf").alias("tf_sum"),
    )
    out = scored.join(page_index, ["url_canon", "ts14"], "inner")
    ranked = out.orderBy(
        F.desc("matched_terms"), F.desc("tf_sum"),
        F.desc("quality_score"), F.desc("word_count"),
        F.asc("url_canon"), F.asc("ts14"),
    )
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(limit)


def match_terms_scan(docs: DataFrame, terms: list[str],
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document match stats for a FIXED small term list as one
    zero-shuffle scan: ``(id_col, matched_terms, tf_sum)`` for every doc
    containing at least one query term.

    Provably equivalent to building the inverted index and joining the
    term list (``build_inverted_terms`` + broadcast join + per-doc agg):
    for literal terms, ``tf(term) = size(filter(tokens, t == term))`` is
    the same count the (term, doc) aggregation would produce, and the
    ``matched > 0`` filter reproduces the inner join's row set — verified
    by the equivalence test in tests/test_index.py and the unchanged
    ``fulltext_match`` DuckDB oracle. The win is plan shape: the index
    build explodes EVERY token of EVERY doc through two exchanges
    (~10^3 tokens/doc) to answer a 3-term query; this is one codegen pass
    over the corpus with zero exchanges, the right query-side shape at any
    scale when the term list is small and no reusable index table exists
    (the committed-index path in ``search`` stays the served-query shape).

    Tokenization inside matches ``build_inverted_terms``'s content side
    (``tokenize``); the token array materializes once behind a
    ``materialize_once`` anchor so the per-term ``filter`` lambdas share
    it instead of re-tokenizing per term.
    """
    from ..functions.planutil import materialize_once

    toks = docs.select(
        F.col(id_col),
        materialize_once(tokenize(F.col(text_col))).alias("__toks"))
    def _eq(term: str):
        # closure factory: a default-arg lambda would add a second
        # parameter, which F.filter interprets as the (element, index)
        # binary form and binds the array INDEX to it
        return lambda t: t == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col("__toks"), _eq(q))).cast("long")
        .alias(f"__tf{i}")
        for i, q in enumerate(dict.fromkeys(terms))
    ]
    scored = toks.select(F.col(id_col), *tf_cols)
    tfs = [F.col(f"__tf{i}") for i in range(len(tf_cols))]
    matched = None
    total = None
    for c in tfs:
        hit = F.when(c > 0, F.lit(1)).otherwise(F.lit(0))
        matched = hit if matched is None else matched + hit
        total = c if total is None else total + c
    return (scored
            .withColumn("matched_terms", matched.cast("long"))
            .withColumn("tf_sum", total.cast("long"))
            .filter(F.col("matched_terms") > 0)
            .select(id_col, "matched_terms", "tf_sum"))


def min_pair_distance(entries: Column) -> Column:
    """Min token distance between occurrences of two DIFFERENT terms, given
    ``entries: array<struct<term, pos_arr>>`` for one document's matched
    query terms. Null when <2 distinct terms occur.

    Shape: flatten to (pos, term) occurrences, ``array_sort`` by position,
    then ONE ``aggregate`` pass over adjacent elements — the closest
    different-term pair is always adjacent in position order (any
    occurrence strictly between a closer pair would itself form a closer
    pair with one endpoint). O(m log m) per doc over m matched-term
    occurrences, entirely in codegen — no per-doc pairwise join."""
    occ = F.array_sort(F.flatten(F.transform(
        entries,
        lambda e: F.transform(
            e["pos_arr"],
            lambda p: F.struct(p.alias("pos"), e["term"].alias("term"))))))
    big = 1 << 30
    zero = F.struct(F.lit(-1).alias("prev_pos"), F.lit("").alias("prev_term"),
                    F.lit(big).alias("best"))

    def step(acc, x):
        best = F.when(
            (acc["prev_pos"] >= 0) & (x["term"] != acc["prev_term"]),
            F.least(acc["best"], x["pos"] - acc["prev_pos"]),
        ).otherwise(acc["best"])
        return F.struct(x["pos"].alias("prev_pos"),
                        x["term"].alias("prev_term"), best.alias("best"))

    raw = F.aggregate(occ, zero, step, lambda acc: acc["best"])
    return F.when(raw < big, raw).cast("int")


def with_snippet(matched: DataFrame, terms: list[str],
                 content_col: str = "content", crop_words: int = 10,
                 crop_before: int = 3, pre_tag: str = "<em>",
                 post_tag: str = "</em>") -> DataFrame:
    """Highlight + crop (Meilisearch attributesToHighlight/attributesToCrop,
    meilisearch_service.py:186-197, search params :321-322): word-boundary
    snippet of ``crop_words`` words around the first matched query term,
    matched terms wrapped in ``pre_tag``/``post_tag``, ``…`` markers where
    the crop cut either end. Pure column expressions — the doc's word array
    is sliced and rejoined in codegen; no UDF, no shuffle.

    Convention (disclosed): words are the tokenizer's word units rejoined
    with single spaces, so original inter-word punctuation/whitespace is
    normalized away — the word-boundary guarantee is exact, byte-level
    spacing is not (the reference crops raw text). ``snippet`` is null when
    no query term matches the content column."""
    words = F.filter(
        F.split(F.coalesce(F.col(content_col), F.lit("")), _TOKEN_SPLIT_RE),
        lambda w: w != F.lit(""))
    terms_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    is_hit = lambda w: F.array_contains(terms_arr, F.lower(w))  # noqa: E731
    # 0-based index of the first matching word (null if none)
    hit_idxs = F.filter(
        F.transform(words, lambda w, i: F.when(is_hit(w), i)),
        lambda x: x.isNotNull())
    first_idx = F.try_element_at(hit_idxs, F.lit(1))  # null when no match
    start = F.greatest(F.lit(0), first_idx - F.lit(crop_before))
    window = F.slice(words, start + 1, crop_words)   # slice is 1-based
    marked = F.transform(
        window,
        lambda w: F.when(is_hit(w),
                         F.concat(F.lit(pre_tag), w, F.lit(post_tag)))
        .otherwise(w))
    body = F.concat_ws(" ", marked)
    snippet = F.concat(
        F.when(start > 0, F.lit("…")).otherwise(F.lit("")),
        body,
        F.when(start + crop_words < F.size(words), F.lit("…"))
        .otherwise(F.lit("")))
    return matched.withColumn(
        "snippet", F.when(first_idx.isNotNull(), snippet))


def search_snippets(page_index: DataFrame, inverted_terms: DataFrame,
                    query: str, limit: int = 20,
                    crop_words: int = 10) -> DataFrame:
    """``search`` + highlight/crop: the ranked hits carry a ``snippet``
    column cropped around the first matched term with all matched terms
    highlighted (meilisearch_service.py:186-197)."""
    hits = search(page_index, inverted_terms, query, limit)
    return with_snippet(hits, tokenize_query(query), "content",
                        crop_words=crop_words)


def match_set(inverted_terms: DataFrame, terms: list[str]) -> DataFrame:
    """Pages matching ≥1 query term with per-page match stats — the result
    set faceting and filtering operate over (Meilisearch estimated result
    set, meilisearch_service.py:353-412)."""
    spark = inverted_terms.sparkSession
    qdf = spark.createDataFrame([(t,) for t in sorted(set(terms))],
                                "term string")
    hits = inverted_terms.join(F.broadcast(qdf), "term", "inner")
    return hits.groupBy("url_canon", "ts14").agg(
        F.countDistinct("term").alias("matched_terms"),
        F.sum("tf").alias("tf_sum"),
    )


def search_facets(page_index: DataFrame, inverted_terms: DataFrame,
                  query: str, facet_cols: list[str]) -> DataFrame:
    """Facet distribution over the search match set
    (meilisearch_service.py:395-412 ``facets`` params;
    shared_pages_meilisearch.py:497-502 facet fields): for each facet column,
    value → number of matching pages. One pass over the match-set join —
    the explode fans each matching page into (facet, value) pairs, then one
    hash aggregation (same shape as analytics.facet_distribution)."""
    from .analytics import facet_distribution

    terms = tokenize_query(query)
    ms = match_set(inverted_terms, terms)
    matched = ms.join(page_index, ["url_canon", "ts14"], "inner")
    return facet_distribution(matched, facet_cols)


def expand_terms_typo(inverted_terms: DataFrame, terms: list[str],
                      max_edit: int = 1) -> DataFrame:
    """Typo tolerance (meilisearch_service.py:454-470 ranking rule ``typo``):
    map each query term to index terms within ``max_edit`` Levenshtein edits.
    Output: (term, query_term, edit_dist).

    Scale shape: the distinct-term vocabulary is aggregated once (hash agg),
    then the TINY query-term list broadcasts against it with a
    length-pre-filter (``abs(len diff) <= max_edit``) so the Levenshtein UDF
    never runs on hopeless pairs. Vocabulary is ~10^6-10^7 rows even for a
    10^10-page corpus — a broadcast-nested-loop against ≤10 query terms is
    one map-side pass, no shuffle of the inverted index."""
    spark = inverted_terms.sparkSession
    vocab = inverted_terms.select("term").distinct()
    qdf = spark.createDataFrame([(t,) for t in sorted(set(terms))],
                                "query_term string")
    joined = vocab.join(
        F.broadcast(qdf),
        (F.abs(F.length("term") - F.length("query_term")) <= max_edit)
        & (F.levenshtein("term", "query_term") <= max_edit),
        "inner",
    )
    return joined.select(
        "term", "query_term",
        F.levenshtein("term", "query_term").alias("edit_dist"))


def ranked_match_set(page_index: DataFrame, inverted_terms: DataFrame,
                     query: str, max_edit: int = 1) -> DataFrame:
    """Per-document scores for EVERY Meilisearch ranking rule, unified
    (shared_pages_meilisearch.py:167-176 — the reference configures ONE
    ordered chain ``words, typo, proximity, attribute, sort, exactness,
    quality_score:desc, word_count:desc``; this computes all of its
    criteria in one pass).

    Requires an index built with ``positions=True``. Two shuffles total:
    the (doc, query_term) aggregation and the doc aggregation — the typo
    expansion and the query-term join stay broadcast, so the inverted
    index never re-shuffles per rule.

    Output per matched page: ``matched_terms`` (words rule — #query terms
    matched within ``max_edit``), ``typo_cost`` (typo — Σ per-term best
    edit distance), ``proximity`` (min token distance between occurrences
    of two different query terms; null if <2 matched), ``best_pos``
    (attribute/position — earliest matching token, title tokens first),
    ``exact_phrase`` (exactness — the query's tokens occur consecutively
    in order, exact matches only), plus ``tf_sum``.
    """
    terms = tokenize_query(query)
    spark = page_index.sparkSession
    if not terms:
        return page_index.limit(0).withColumns(
            {"matched_terms": F.lit(0).cast("long"),
             "typo_cost": F.lit(0).cast("long"),
             "tf_sum": F.lit(0).cast("long"),
             "proximity": F.lit(None).cast("int"),
             "best_pos": F.lit(None).cast("int"),
             "exact_phrase": F.lit(False)})
    uniq = list(dict.fromkeys(terms))
    expanded = expand_terms_typo(inverted_terms, uniq, max_edit)
    hits = inverted_terms.join(F.broadcast(expanded), "term", "inner")
    # per (doc, query term): best edit distance, merged occurrence
    # positions (all matches feed proximity; exact-only feed the phrase)
    per_qt = hits.groupBy("url_canon", "ts14", "query_term").agg(
        F.min("edit_dist").alias("ed"),
        F.sum("tf").alias("tf"),
        F.min("first_pos").alias("first_pos"),
        F.array_sort(F.flatten(F.collect_list("pos_arr"))).alias("pos_all"),
        F.array_sort(F.flatten(F.collect_list(
            F.when(F.col("edit_dist") == 0, F.col("pos_arr")))))
        .alias("pos_exact"),
    )
    scored = per_qt.groupBy("url_canon", "ts14").agg(
        F.count(F.lit(1)).alias("matched_terms"),
        F.sum("ed").cast("long").alias("typo_cost"),
        F.sum("tf").alias("tf_sum"),
        min_pair_distance(F.collect_list(F.struct(
            F.col("query_term").alias("term"),
            F.col("pos_all").alias("pos_arr")))).alias("proximity"),
        F.min("first_pos").cast("int").alias("best_pos"),
        F.map_from_entries(
            F.collect_list(F.struct("query_term", "pos_exact")))
        .alias("_mpos"),
    )
    # exactness: ∃ p — exact positions of term_i contain p+i for all i
    # (the ORDERED query tokens occur consecutively); k literal lookups,
    # no join
    mpos = F.col("_mpos")
    pos0 = F.coalesce(mpos[F.lit(terms[0])], F.array().cast("array<int>"))

    def _phrase_at(p):
        conds = [
            F.array_contains(
                F.coalesce(mpos[F.lit(t)], F.array().cast("array<int>")),
                p + F.lit(i))
            for i, t in enumerate(terms[1:], start=1)
        ]
        out = F.lit(True)
        for c in conds:
            out = out & c
        return out

    return (scored
            .withColumn("exact_phrase", F.exists(pos0, _phrase_at))
            .drop("_mpos"))


# --------------------------------------------------------------------------
# BM25 relevance (Robertson & Spärck Jones; the Okapi BM25 standard the
# reference's Meilisearch rule chain does not expose — an engine addition
# for corpus-analytics relevance ranking over the same inverted index)
# --------------------------------------------------------------------------

def bm25_rank(inverted_terms: DataFrame, query_terms: list[str],
              doc_cols: tuple[str, ...] = ("url_canon", "ts14"),
              k1_centi: int = 120, b_centi: int = 75) -> DataFrame:
    """Okapi BM25 scores for the documents matching ≥1 query term.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — with k1 = k1_centi/100,
    b = b_centi/100 (default 1.2 / 0.75).

    Determinism: the per-(doc, term) partial score is computed as one
    double expression (identical literal shape in the DuckDB oracle — IEEE
    ops are correctly rounded, so both engines produce bit-identical
    doubles), then nano-floored to a long; per-doc summation is long
    addition, hence order- and partitioning-independent.

    Scale shape: doc lengths are one map-side-combined agg over the index
    (materialized once — it feeds the corpus stats AND the scoring join);
    N/avgdl is a 1-row broadcast; df is computed for the QUERY terms only
    (hits ∝ posting lists, never the corpus); the scoring join keys on the
    doc id with the hit side candidate-sized, so AQE broadcasts it against
    the doclen table. No global sort — callers rank/limit downstream.

    Output: doc_cols + (matched_terms, tf_sum, bm25_e9: long).
    """
    k1 = k1_centi / 100.0
    b = b_centi / 100.0
    dcols = [F.col(c) for c in doc_cols]
    spark = inverted_terms.sparkSession
    qdf = spark.createDataFrame([(t,) for t in dict.fromkeys(query_terms)],
                                "term string")
    # (doc, dl): one pass over the index, materialized — feeds both the
    # 1-row corpus stats agg and the scoring join
    doclens = (inverted_terms.groupBy(*dcols)
               .agg(F.sum("tf").cast("long").alias("dl"))
               .localCheckpoint(eager=True))
    stats = doclens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    hits = inverted_terms.join(F.broadcast(qdf), "term")
    df_ = hits.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (hits
              .join(F.broadcast(df_), "term")
              .join(doclens, list(doc_cols))
              .join(F.broadcast(stats))
              .withColumn(
                  "_s_nano",
                  F.floor(
                      F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                            / (F.col("df") + 0.5))
                      * (F.col("tf") * (k1 + 1.0))
                      / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                             / F.col("avgdl")))
                      * 1e9).cast("long")))
    return (scored.groupBy(*dcols)
            .agg(F.count_distinct("term").alias("matched_terms"),
                 F.sum("tf").cast("long").alias("tf_sum"),
                 F.sum("_s_nano").cast("long").alias("bm25_e9")))


def current_view_postings(inverted_terms: DataFrame,
                          pages_out: DataFrame) -> DataFrame:
    """Restrict the postings table to each URL's NEWEST capture — the
    index side of the ``latest_captures`` current view.

    The archive keeps every (url, ts14) capture searchable (time-travel
    queries want the history), but the user-facing default searches the
    CURRENT web: after a recrawl/revalidation appends a fresh capture,
    the old capture's postings must stop matching. This is that
    restriction as a semi-join against the newest-capture key set — no
    postings are deleted (Iceberg-style immutability; history remains
    queryable by searching the unrestricted table).

    Shape: the key set is one argmax agg over pages_out keys (url_canon
    → max ts14; short columns only), then one semi-join on
    (url_canon, ts14). At 10^10 scale both sides are bucketable by
    url_canon; the keys side is one row per URL and broadcastable per
    term-pruned search anyway."""
    from pyspark.sql import functions as F

    latest_keys = (pages_out
                   .groupBy("url_canon")
                   .agg(F.max("ts14").alias("ts14")))
    return inverted_terms.join(latest_keys, ["url_canon", "ts14"],
                               "left_semi")
