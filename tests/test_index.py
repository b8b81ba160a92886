"""Inverted-term index + ranked full-text search."""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.operators.index import (
    build_inverted_terms,
    search,
    tokenize,
    tokenize_query,
)


def _page_index(spark):
    rows = [
        ("u1", "t1", "Alpha Report", "alpha beta gamma alpha", 4, 0.9),
        ("u2", "t2", "Beta Notes", "beta beta delta", 3, 0.5),
        ("u3", "t3", "Unrelated", "epsilon zeta", 2, 0.99),
    ]
    return spark.createDataFrame(
        rows, "url_canon string, ts14 string, title string, content string, "
              "word_count int, quality_score double")


def test_tokenize_matches_query_tokenizer(spark):
    df = spark.createDataFrame([("Hello, World! 42 café",)], "t string")
    spark_tokens = df.select(tokenize(F.col("t")).alias("tok")).first()["tok"]
    assert spark_tokens == ["hello", "world", "42", "café"]
    assert tokenize_query("Hello, World! 42")[:3] == ["hello", "world", "42"]


def test_inverted_terms_tf(spark):
    pi = _page_index(spark)
    inv = build_inverted_terms(pi)
    tf = {(r["term"], r["url_canon"]): r["tf"] for r in inv.collect()}
    assert tf[("alpha", "u1")] == 3  # title 1 + content 2
    assert tf[("beta", "u2")] == 3   # title 1 + content 2


def test_search_ranking(spark):
    pi = _page_index(spark)
    inv = build_inverted_terms(pi)
    hits = search(pi, inv, "alpha beta", limit=10).collect()
    assert [h["url_canon"] for h in hits] == ["u1", "u2"]
    assert hits[0]["matched_terms"] == 2 and hits[1]["matched_terms"] == 1


def test_search_empty_query(spark):
    pi = _page_index(spark)
    inv = build_inverted_terms(pi)
    assert search(pi, inv, "  ").count() == 0


def test_tokenize_underscore_agreement(spark):
    """Underscore must split identically JVM-side and driver-side."""
    df = spark.createDataFrame([("foo_bar baz",)], "t string")
    jvm = df.select(tokenize(F.col("t")).alias("tok")).first()["tok"]
    assert jvm == ["foo", "bar", "baz"]
    assert tokenize_query("foo_bar baz") == ["foo", "bar", "baz"]


def test_search_offset_pagination(spark):
    from chrono_scraper_spark.operators.index import search as _search

    pi = _page_index(spark)
    inv = build_inverted_terms(pi)
    full = _search(pi, inv, "beta", limit=10)
    page2 = _search(pi, inv, "beta", limit=1, offset=1)
    urls = [r["url_canon"] for r in full.collect()]
    assert [r["url_canon"] for r in page2.collect()] == [urls[1]]


def test_search_facets(spark):
    from chrono_scraper_spark.operators.index import search_facets

    pi = _page_index(spark).withColumn(
        "lang", F.when(F.col("url_canon") == "u1", "en").otherwise("de"))
    inv = build_inverted_terms(pi)
    facets = {(r["facet"], r["value"]): r["n"]
              for r in search_facets(pi, inv, "beta", ["lang"]).collect()}
    # u1 and u2 match 'beta'; u3 does not
    assert facets == {("lang", "en"): 1, ("lang", "de"): 1}


def test_positional_index_and_search(spark):
    from chrono_scraper_spark.operators.index import ranked_match_set

    rows = [
        # 'query' is the FIRST word here…
        ("a", "0", "query title", "query early in this document body"),
        # …and deep in the body here
        ("b", "0", "other title", "w1 w2 w3 w4 w5 w6 w7 query at the end"),
    ]
    pi = spark.createDataFrame(
        rows, "url_canon string, ts14 string, title string, content string")
    pi = pi.withColumn("quality_score", F.lit(0.5)) \
           .withColumn("word_count", F.lit(10))
    inv = build_inverted_terms(pi, positions=True)
    got = {(r["term"], r["url_canon"]): r["first_pos"]
           for r in inv.collect()}
    assert got[("query", "a")] == 0      # title token position 0
    assert got[("query", "b")] == 9      # 2 title + 7 body tokens before it
    best = {r["url_canon"]: r["best_pos"]
            for r in ranked_match_set(pi, inv, "query").collect()}
    assert best == {"a": 0, "b": 9}


def test_min_pair_distance_same_term_runs_skipped(spark):
    """Occurrences of the SAME term between the two closest different terms
    must not break the adjacent-scan (closest different-term pair is found
    across a same-term run)."""
    from chrono_scraper_spark.operators.index import min_pair_distance

    rows = [("d", "t", "", "alpha alpha alpha beta", 4, 0.5)]
    pi = spark.createDataFrame(
        rows, "url_canon string, ts14 string, title string, content string, "
              "word_count int, quality_score double")
    inv = build_inverted_terms(pi, positions=True)
    entries = F.collect_list(F.struct("term", "pos_arr"))
    hits = (inv.filter(F.col("term").isin("alpha", "beta"))
            .groupBy("url_canon")
            .agg(min_pair_distance(entries).alias("proximity"))
            .collect())
    assert hits[0]["proximity"] == 1


def test_with_snippet_highlight_and_crop(spark):
    from chrono_scraper_spark.operators.index import with_snippet

    rows = [
        ("hit", "w0 w1 w2 w3 w4 Alpha w6 w7 w8 w9 w10 w11 w12 w13 w14"),
        ("miss", "nothing to see here"),
        ("lead", "Alpha starts the doc w1 w2"),
    ]
    df = spark.createDataFrame(rows, "url_canon string, content string")
    out = {r["url_canon"]: r["snippet"]
           for r in with_snippet(df, ["alpha"], "content").collect()}
    # crop starts 3 words before the hit, runs 10 words, ellipses both ends;
    # the matched word keeps its original case inside the tags
    assert out["hit"] == "…w2 w3 w4 <em>Alpha</em> w6 w7 w8 w9 w10 w11…"
    assert out["miss"] is None
    # hit in the lead: no left ellipsis, no right ellipsis (doc is short)
    assert out["lead"] == "<em>Alpha</em> starts the doc w1 w2"


def test_search_snippets_end_to_end(spark):
    from chrono_scraper_spark.operators.index import search_snippets

    pi = _page_index(spark)
    inv = build_inverted_terms(pi)
    hits = search_snippets(pi, inv, "beta", limit=5).collect()
    assert all(r["snippet"] and "<em>beta</em>" in r["snippet"] for r in hits)


def test_search_ranked_full_rule_chain(spark):
    """ranked_match_set scores every Meilisearch rule of the chain —
    words, typo, proximity, attribute, exactness — on a planted corpus
    where each rule separates one pair of pages."""
    from chrono_scraper_spark.operators.index import ranked_match_set

    rows = [
        # url, quality, content — query is "data query windw"
        ("p1", 9.0, "data query windw"),           # all rules best
        ("p4", 9.0, "data query window"),          # typo: windw->window
        ("p5", 9.0, "data pad query pad windw"),   # proximity 2
        ("p6", 9.0, "pad data query windw"),       # best_pos 1
        ("p7", 9.0, "data windw query"),           # no exact phrase
        ("p8", 9.0, "data query"),                 # words: 2 of 3
    ]
    pi = spark.createDataFrame(
        [(u, "0", "", c, len(c.split()), q) for u, q, c in rows],
        "url_canon string, ts14 string, title string, content string, "
        "word_count int, quality_score double")
    inv = build_inverted_terms(pi, positions=True)
    by = {h["url_canon"]: h for h in
          ranked_match_set(pi, inv, "data query windw").collect()}
    assert by["p1"]["exact_phrase"] and not by["p7"]["exact_phrase"]
    assert by["p4"]["typo_cost"] == 1 and by["p5"]["typo_cost"] == 0
    assert by["p5"]["proximity"] == 2 and by["p6"]["proximity"] == 1
    assert by["p6"]["best_pos"] == 1 and by["p7"]["best_pos"] == 0
    assert by["p8"]["matched_terms"] == 2 and by["p1"]["matched_terms"] == 3
    assert ranked_match_set(pi, inv, "").count() == 0


def test_noindex_pages_excluded_from_search(spark):
    """The documented REP composition: pages whose meta robots says
    noindex are fetched (they exist in pages_out) but anti-joined out
    before build_page_index — search can never return them."""
    from chrono_scraper_spark.operators.index import (
        build_inverted_terms,
        search,
    )
    from chrono_scraper_spark.operators.links import meta_robots

    words = "findable token stream " * 20
    rows = [
        ("u1", f"<html><head></head><body>{words}</body></html>"),
        ("u2", '<html><head><meta name="robots" content="noindex">'
               f"</head><body>{words}</body></html>"),
    ]
    raw = spark.createDataFrame(rows, "url string, html string")
    pages_out = raw.select(
        F.col("url").alias("url_canon"), F.lit("0").alias("ts14"),
        F.lit("").alias("title"), F.lit(words).alias("extracted_text"),
        F.lit(words).alias("content"),
        F.lit(0.5).alias("quality_score"),
        F.lit(60).cast("long").alias("word_count"))
    flags = meta_robots(raw.select("url", F.col("html").cast("binary")
                                   .alias("html")))
    indexable = pages_out.join(
        flags.filter("noindex").select(F.col("url").alias("url_canon")),
        "url_canon", "left_anti")
    # the composition point is the anti-join ABOVE: whatever index
    # projection follows (build_page_index in the crawl, a plain select
    # here) can never see a noindex page
    pi = indexable
    cols = ["url_canon", "ts14", "title", "content", "quality_score",
            "word_count"]
    inv = build_inverted_terms(pi.select(*cols))
    hits = search(pi.select(*cols), inv, "findable token",
                  limit=10).collect()
    assert {h["url_canon"] for h in hits} == {"u1"}


def test_current_view_postings(spark):
    """After a fresh capture lands, the old capture's postings stop
    matching in the current view; single-capture URLs are untouched."""
    from chrono_scraper_spark.operators.index import (
        build_inverted_terms,
        current_view_postings,
    )

    pi = spark.createDataFrame(
        [("u1", "20210101000000", "", "old words here"),
         ("u1", "20230101000000", "", "new shiny content"),
         ("u2", "20210101000000", "", "only capture")],
        "url_canon string, ts14 string, title string, content string")
    inv = build_inverted_terms(pi)
    pages_out = pi.select("url_canon", "ts14")
    cur = current_view_postings(inv, pages_out)
    got = {(r["term"], r["url_canon"], r["ts14"]) for r in cur.collect()}
    assert ("new", "u1", "20230101000000") in got
    assert ("only", "u2", "20210101000000") in got
    # the superseded capture's postings are gone from the current view
    assert not any(u == "u1" and t == "20210101000000"
                   for _, u, t in got)
    # ...but remain in the unrestricted (time-travel) table
    assert inv.filter("url_canon = 'u1' AND ts14 = '20210101000000'") \
        .count() > 0


def test_match_terms_scan_equivalence(spark):
    """Round-6 optimization: the zero-shuffle ad-hoc term scan must agree
    row-for-row with the inverted-index + broadcast-join shape it
    replaced in q_fulltext_match (duplicate query terms collapse, docs
    with zero matches drop, tf over repeated tokens counts every
    occurrence, null text tokenizes empty)."""
    from chrono_scraper_spark.operators.index import match_terms_scan

    rows = [
        (1, "data query window data data"),
        (2, "nothing relevant here"),
        (3, "window window"),
        (4, None),
        (5, "Data, QUERY!  window_data"),  # case-fold + punct + '_' split
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["data", "query", "window", "data"]  # duplicate on purpose

    # the pre-round-6 shape, inline
    pi = docs.select(F.col("doc_id").cast("string").alias("url_canon"),
                     F.lit("0").alias("ts14"), F.lit("").alias("title"),
                     F.col("text").alias("content"))
    inv = build_inverted_terms(pi)
    qdf = spark.createDataFrame([(t,) for t in set(terms)], "term string")
    old = (inv.join(F.broadcast(qdf), "term")
           .groupBy("url_canon")
           .agg(F.countDistinct("term").alias("matched_terms"),
                F.sum("tf").alias("tf_sum"))
           .select(F.col("url_canon").cast("long").alias("doc_id"),
                   "matched_terms", "tf_sum"))

    new = match_terms_scan(docs, terms)
    assert new.columns == old.columns
    assert dict(zip(new.columns, [f.dataType.simpleString()
                                  for f in new.schema.fields])) == \
        dict(zip(old.columns, [f.dataType.simpleString()
                               for f in old.schema.fields]))
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(map(tuple, new.collect()), key=lambda t: t[0]) == \
        sorted(map(tuple, old.collect()), key=lambda t: t[0])
