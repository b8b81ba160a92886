"""The ``queries`` layer: the 15 headline queries of the legacy ``bench.py``.

They run over seeded star-schema tables written by
``inputs.write_star_tables`` (same columns and types as the sf test tables
of TESTDATA.md), once cold and once warm; the warm pass is the one
reported. Traced ``crawl_rounds`` runs the crawl-family queries, traced
``crawl_bulk`` the text and analytics ones.
Each warm result is compared with its DuckDB ``oracle_sql`` twin by row
count and values, floats to a relative tolerance of 1e-9.
"""

from __future__ import annotations

import math
import time

import duckdb

# split between the two traced runs, each beside the crawl layers it shares
# operators with, so that neither traced run outlasts the run time limit
CRAWL_QUERIES = ("filter_decisions", "collapse_digest", "seen_antijoin_bloom",
                 "politeness_schedule", "crawl_order")
TEXT_QUERIES = ("daily_stats", "exact_dups", "fulltext_match", "ann_topk",
                "events_tumbling", "lineitem_rollup", "gopher_quality",
                "boilerplate_strip", "fasttext_quality", "pack_emit")
HEADLINE_QUERIES = CRAWL_QUERIES + TEXT_QUERIES
STAR_TABLES = ("documents", "embeddings", "events", "lineitem")


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _normalized(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(map(str, t)))


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def matches(s_cols, s_rows, d_cols, d_rows) -> bool:
    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
        return False
    return all(_equal(x, y)
               for a, b in zip(_normalized(s_cols, s_rows),
                               _normalized(d_cols, d_rows))
               for x, y in zip(a, b))


def run_passes(ctx, sf_dir: str, names: tuple[str, ...]) -> dict[str, float]:
    """Cold pass, then warm pass over ``names``; returns warm milliseconds
    per query and checks each warm result against its oracle."""
    from chrono_scraper_spark.entry_queries import ORACLES, QUERIES

    spark, tr = ctx.spark, ctx.tracer
    for name in names:
        with tr.span(f"queries.cold:{name}", "queries"):
            QUERIES[name](spark, sf_dir).count()
        spark.catalog.clearCache()
    warm_ms, results = {}, {}
    for name in names:
        with tr.span(f"queries.{name}", "queries", job_tag=True,
                     spark=spark):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            warm_ms[name] = (time.perf_counter() - t0) * 1e3
        results[name] = (df.columns, rows)
        spark.catalog.clearCache()

    con = duckdb.connect()
    try:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            rel = con.sql(ORACLES[name])
            s_cols, s_rows = results[name]
            ctx.ops.check(matches(s_cols, s_rows, rel.columns,
                                  rel.fetchall()),
                          f"headline query {name} differs from its oracle")
    finally:
        con.close()
    return warm_ms
