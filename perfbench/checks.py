"""Correctness checks on the program's outputs.

Each check is one operation in ``Context.ops``; a failed check makes the
run's ``correct`` false and its exit code 1.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

SEARCH_SAMPLE = 6


def bulk_outputs(ctx, job, corpus: str) -> None:
    """Extracted text equals the generator's ground truth for every
    committed page, and the crawl order and URL-seen set equal the
    pure-Python crawl oracle over the same rows."""
    spark, ops = ctx.spark, ctx.ops
    truth = spark.read.parquet(corpus).select(
        "url", F.date_format("warc_ts", "yyyyMMddHHmmss").alias("ts14"),
        "text")
    pages_out = job.cat.read("pages_out")
    joined = pages_out.join(truth, ["url", "ts14"], "left")
    bad = joined.filter(~F.col("extracted_text").eqNullSafe(F.col("text")))
    n_bad = bad.count()
    ops.check(n_bad == 0, f"extracted_text differs from ground truth on "
                          f"{n_bad} pages")
    n_completed = (job.cat.read("fetch_log")
                   .filter(F.col("fetch_status") == "completed").count())
    n_pages = pages_out.count()
    ops.check(n_pages == n_completed,
              f"pages_out has {n_pages} rows, fetch_log {n_completed} "
              f"completed")

    from tests.crawl_oracle import crawl_oracle

    exp = crawl_oracle(_oracle_rows(spark, corpus), rps=job.rps,
                       burst=job.burst, round_seconds=job.round_seconds)
    _check_log_and_seen(ops, job, exp)


def _oracle_rows(spark, path: str) -> list[dict]:
    """Capture rows as the pure-Python oracles take them. They read
    ``text`` only for its word count, so it is handed over as that many
    filler words (the ground-truth text's whitespace-split word count)."""
    rows = []
    for r in spark.read.parquet(path).selectExpr(
            "url", "warc_ts", "date_format(warc_ts,'yyyyMMddHHmmss') ts14",
            "host", "mime", "status", "digest", "length",
            "size(filter(split(text, '[ \\\\t\\\\n\\\\r\\\\f\\\\x0B]+'), "
            "w -> w != '')) AS wc").toLocalIterator():
        d = r.asDict()
        d["text"] = "w " * d.pop("wc")
        rows.append(d)
    return rows


def _check_log_and_seen(ops, job, exp: dict) -> None:
    log = sorted((r["round_idx"], r["seq"], r["url"], r["ts14"],
                  r["fetch_status"])
                 for r in job.cat.read("fetch_log").toLocalIterator())
    ops.check(log == exp["fetch_log"], "fetch order differs from the oracle")
    seen = {(r["url"], r["ts14"]): (r["status"], r["first_seen_round"])
            for r in job.cat.read("url_seen").toLocalIterator()}
    ops.check(seen == exp["url_seen"], "url_seen differs from the oracle")


def stream_oracle(arrivals: list[list[dict] | None], *, rps: float,
                  burst: int, round_seconds: float) -> dict:
    """Plain-Python model of a sequence of streaming rounds, with the
    semantics of ``tests/crawl_oracle.py`` applied round by round.

    ``arrivals[i]`` holds the captures arriving before round ``i``
    (``run_stream_round``), or None for a round that only re-presents the
    carried frontier (``drain_frontier``). A round's candidates are the
    arrivals collapsed by digest (earliest ``(warc_ts, url)``) and deduped by
    key, united with the carried frontier and deduped by key again, minus
    every key already in the URL-seen set. Returns the per-round counters
    (decided, filtered, scheduled, deferred), the fetch log, the URL-seen
    set and the filtered keys."""
    from tests.oracle import decide

    url_seen: dict = {}
    seen_digests: set = set()
    fetch_log: list = []
    filtered: set = set()
    counters: list = []
    frontier: dict = {}
    for idx, rows in enumerate(arrivals):
        by_key: dict = dict(frontier)
        if rows is not None:
            by_digest: dict = {}
            found = [r for r in rows if r["status"] == 200
                     and r["mime"] in ("text/html", "application/pdf")]
            for r in sorted(found, key=lambda r: (r["warc_ts"], r["url"])):
                by_digest.setdefault(r["digest"], r)
            for r in sorted(by_digest.values(),
                            key=lambda r: (r["warc_ts"], r["url"])):
                by_key.setdefault((r["url"], r["ts14"]), r)
        cands = [r for k, r in by_key.items() if k not in url_seen]
        pending = []
        for r in cands:
            d = decide(r["url"], r["length"], r["digest"], seen_digests)
            if d["status"] == "pending":
                pending.append((r, d))
            else:
                filtered.add((r["url"], r["ts14"]))
        budget = int(rps * round_seconds) + (burst if idx == 0 else 0)
        per_host: dict = {}
        for r, d in pending:
            per_host.setdefault(r["host"], []).append((r, d))
        scheduled, deferred = [], []
        for items in per_host.values():
            items.sort(key=lambda rd: (-rd[1]["priority_score"],
                                       rd[0]["url"], rd[0]["ts14"]))
            scheduled.extend(items[:budget])
            deferred.extend(items[budget:])
        scheduled.sort(key=lambda rd: (-rd[1]["priority_score"],
                                       rd[0]["url"], rd[0]["ts14"]))
        # seen_digests grows only after the round's decisions: a round
        # decides against the set pinned at its start
        for seq, (r, _d) in enumerate(scheduled, start=1):
            status = "completed" if len(r["text"].split()) > 50 else "failed"
            url_seen[(r["url"], r["ts14"])] = (status, idx)
            if status == "completed":
                seen_digests.add(r["digest"])
            fetch_log.append((idx, seq, r["url"], r["ts14"], status))
        counters.append({"decided": len(cands),
                         "filtered": len(cands) - len(pending),
                         "scheduled": len(scheduled),
                         "deferred": len(deferred)})
        frontier = {(r["url"], r["ts14"]): r for r, _ in deferred}
    return {"counters": counters, "fetch_log": fetch_log,
            "url_seen": url_seen, "filtered": filtered}


def rounds_outputs(ctx, job, rounds: list[dict],
                   arrivals: list[str | None]) -> None:
    """No key twice in url_seen; every round's decided, filtered,
    scheduled and deferred counts, the fetch order, url_seen and the
    filtered keys equal the plain-Python model of the same rounds.
    ``arrivals[i]`` is the parquet directory of the batch that arrived
    before ``rounds[i]``, or None for a drain round."""
    ops = ctx.ops
    dup = (job.cat.read("url_seen").groupBy("url_canon", "ts14").count()
           .filter(F.col("count") > 1).count())
    ops.check(dup == 0, f"{dup} keys appear more than once in url_seen")
    exp = stream_oracle(
        [_oracle_rows(ctx.spark, a) if a is not None else None
         for a in arrivals],
        rps=job.rps, burst=job.burst, round_seconds=job.round_seconds)
    for c, want in zip(rounds, exp["counters"]):
        got = {k: c.get(k, 0) for k in want}
        ops.check(got == want, f"round {c['round_idx']}: counters {got}, "
                               f"oracle {want}")
    _check_log_and_seen(ops, job, exp)
    keys = {(r["url"], r["ts14"]) for r in
            job.cat.read("filtered_log").select("url", "ts14")
            .toLocalIterator()}
    ops.check(keys == exp["filtered"],
              "filtered_log keys differ from the oracle")


_TOKENS = r"""
CREATE TABLE toks AS
SELECT url_canon, ts14, quality_score, word_count,
       unnest(list_concat(
         regexp_split_to_array(lower(coalesce(title, '')), '[^\p{L}\p{N}]+'),
         regexp_split_to_array(lower(coalesce(extracted_text, '')),
                               '[^\p{L}\p{N}]+'))) AS term
FROM pages
"""

_RANKING = """
SELECT url_canon, ts14
FROM toks WHERE term IN (SELECT unnest($terms))
GROUP BY url_canon, ts14, quality_score, word_count
ORDER BY count(DISTINCT term) DESC, count(*) DESC, quality_score DESC,
         word_count DESC, url_canon, ts14
LIMIT 20 OFFSET $offset
"""


def search_answers(ctx, cat, answers: list) -> None:
    """The first ranked-search answers given against the catalog's current
    version equal a brute-force DuckDB ranking over the collected
    pages_out: same pages in the same order."""
    from chrono_scraper_spark.operators.index import tokenize_query

    pages = cat.read("pages_out").select(
        "url_canon", "ts14", "title", "extracted_text", "quality_score",
        "word_count").toPandas()
    con = duckdb.connect()
    try:
        con.register("pages", pages)
        con.execute(_TOKENS)
        for req, rows in answers[:SEARCH_SAMPLE]:
            got = [(r["url_canon"], r["ts14"]) for r in rows]
            want = [tuple(r) for r in con.execute(
                _RANKING, {"terms": tokenize_query(req.query),
                           "offset": req.offset}).fetchall()]
            ctx.ops.check(got == want, f"search {req.query!r} offset "
                                       f"{req.offset}: ranking differs from "
                                       f"the brute-force ranking")
    finally:
        con.close()
