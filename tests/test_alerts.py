"""Saved-query alerting: AND-match semantics."""

from __future__ import annotations

from chrono_scraper_spark.operators.alerts import match_saved_queries


def test_and_semantics_and_edge_queries(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta"), (3, "beta BETA!"),
         (4, None)],
        "doc_id long, text string")
    saved = spark.createDataFrame(
        [(10, "alpha beta"),       # only doc 1 has both
         (11, "beta"),             # docs 1 and 3 (case/punct-insensitive)
         (12, "alpha zzz"),        # no doc has zzz
         (13, ""),                 # empty query matches nothing
         (14, "beta beta")],       # dup terms collapse: same as 'beta'
        "query_id int, query string")
    got = {(r["query_id"], r["doc_id"])
           for r in match_saved_queries(docs, saved).collect()}
    assert got == {(10, 1), (11, 1), (11, 3), (14, 1), (14, 3)}
