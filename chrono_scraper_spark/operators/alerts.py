"""Saved-query alerting: match a table of standing searches against
documents — the monitoring half of a chrono-scraper deployment (users
register queries once and are notified when newly crawled captures
match).

Semantics: a saved query is a bag of terms under the engine's standard
tokenizer (functions/textops.tokens — same convention as the inverted
index); a document matches when it contains EVERY query term (AND, the
Meilisearch default for ranking eligibility). Queries whose tokenization
is empty match nothing.

Scale shape: the corpus is tokenized ONCE (one Generate over distinct
terms per doc); the query-term table is query-cardinality and always
broadcast, so nothing corpus-sized shuffles — the only exchange carries
(doc, query) candidate pairs, bounded by actual term hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textops as T


def match_saved_queries(docs: DataFrame, saved: DataFrame,
                        id_col="doc_id", text_col: str = "text",
                        query_id_col: str = "query_id",
                        query_col: str = "query") -> DataFrame:
    """(query_id, <id_col...>) for every document containing ALL the
    saved query's terms. ``id_col`` may be a single column name or a
    tuple (e.g. ``("url", "ts14")`` for per-capture alerting). Matching
    counts DISTINCT terms, so duplicate document rows for one id (two
    captures of a URL in one batch) cannot inflate the hit count past
    the query size and break the AND."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    qterms = (saved.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(T.tokens(F.col(query_col))))
        .alias("term")))
    nq = qterms.groupBy(query_id_col).agg(F.count("*").alias("_nq"))
    dterms = (docs.select(
        *[F.col(c) for c in ids],
        F.explode(F.array_distinct(T.tokens(F.col(text_col))))
        .alias("term")))
    hits = (dterms.join(F.broadcast(qterms), "term")
            .groupBy(*ids, query_id_col)
            .agg(F.count_distinct("term").alias("_nm")))
    return (hits.join(F.broadcast(nq), query_id_col)
            .filter(F.col("_nm") == F.col("_nq"))
            .select(query_id_col, *ids))
