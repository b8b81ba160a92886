"""The benchmark workloads, each a closed loop with one client.

``crawl_bulk``: a cold-catalog crawl of long pages (``words_scale=16``)
with a per-host budget large enough to drain the frontier in one round.
Arrow-UDF extraction, the inverted-term build and large first commits
dominate; ``url_seen`` starts empty, so seen-set dedup and politeness
re-ranking do almost nothing.

``crawl_rounds``: seeded arrival batches of short pages (``words_scale=1``)
through ``streaming.micro_batch.run_stream_round``, the later one
re-presenting a seeded share of earlier captures, then a
``drain_frontier`` round. A low per-host budget defers most of the
mega-host every round. Politeness re-ranking of the carried frontier, the
anti-join against a growing ``url_seen``, the fixed cost of a round and
small delta commits dominate; extraction is light.

Measured runs crawl only; search requests against the crawled catalog run
in the traced runs, which time the read path per layer.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import checks
import inputs
from harness import cpu_ticks, peak_rss_mb, steal_share
from spans import dir_bytes

# -- sizes (4 cores, ~15 GB) --------------------------------------------------
BULK_DOCS = 1000
BULK_WORDS_SCALE = 16
ROUNDS_DOCS = 1500
# the first batch arrives in set-up (round 0); the rest, then the drain
# rounds, are measured
ROUNDS_BATCHES = 2
ROUNDS_OVERLAP_PCT = 25
ROUNDS_DRAIN = 1
# per-host budget per round: int(rps * round_seconds) (+ burst in round 0)
ROUNDS_RPS, ROUNDS_BURST = 0.5, 10
BULK_RPS, BULK_BURST = 10_000.0, 0
ROUND_SECONDS = 60.0
# requests of a traced run: one cycle of the request mix
TRACED_REQUESTS = 8
FACET_COLS = ["host", "lang"]
STAR_DOCS = 500


def _job(ctx, cat_dir: str, pages_path: str, rps: float, burst: int):
    from chrono_scraper_spark.plans.catalog import SnapshotCatalog
    from chrono_scraper_spark.plans.crawl import CrawlJob

    cat = SnapshotCatalog(ctx.spark, cat_dir)
    return CrawlJob(ctx.spark, cat, pages_path, inputs.seed_list(ctx.spark),
                    rps=rps, burst=burst, round_seconds=ROUND_SECONDS)


def _span(ctx, name: str, layer: str):
    if ctx.tracer is None:
        return contextlib.nullcontext({})
    return ctx.tracer.span(name, layer)


def frontier_urls(cat) -> int:
    """Rows that left the frontier: fetched or filter-terminal."""
    return cat.read("fetch_log").count() + cat.read("filtered_log").count()


# -- the read path (traced runs) ------------------------------------------------
def serve(ctx, cat, requests) -> list:
    """Answer ``requests`` one after another against the catalog's
    committed index tables, timing the lazy search call and the collect of
    its rows apart. Returns the ranked-search answers, for the checks."""
    from chrono_scraper_spark.operators import index as IX

    inv = cat.read("inverted_terms")
    pi = IX.page_index_from_pages_out(cat.read("pages_out"))
    info, answers = ctx.trace_info, []
    for req in requests:
        with ctx.tracer.span(f"index.{req.kind}", "index"):
            t0 = time.perf_counter()
            with ctx.tracer.span("index.search_plan", "index"):
                if req.kind == "facets":
                    df = IX.search_facets(pi, inv, req.query, FACET_COLS)
                elif req.kind == "snippets":
                    df = IX.search_snippets(pi, inv, req.query, limit=10)
                else:
                    df = IX.search(pi, inv, req.query, limit=20,
                                   offset=req.offset)
            t1 = time.perf_counter()
            with ctx.tracer.span("index.search_exec", "index"):
                rows = df.collect()
            t2 = time.perf_counter()
        info.setdefault("plan_ms", []).append((t1 - t0) * 1e3)
        info.setdefault("exec_ms", []).append((t2 - t1) * 1e3)
        if req.kind == "search":
            answers.append((req, rows))
        ctx.ops.attempted += 1
    return answers


# -- crawl_bulk -----------------------------------------------------------------
def _bulk_setup(ctx) -> dict:
    spark, cores, seed = ctx.spark, ctx.cores, ctx.seed
    corpus = ctx.path("corpus")
    captures = inputs.write_corpus(spark, corpus, BULK_DOCS,
                                   words_scale=BULK_WORDS_SCALE,
                                   n_files=2 * cores, seed=seed)
    warm = ctx.path("warm_corpus")
    inputs.sample_corpus(corpus, warm)
    ctx.log("inputs written")
    # warm-up: the same plan shapes over one file of the corpus, so
    # whole-stage codegen compiles and the Python workers start before
    # timing
    job = _job(ctx, ctx.path("warm_cat"), warm, BULK_RPS, BULK_BURST)
    job.run(max_rounds=5)
    ctx.log("warm-up done")
    return {"corpus": corpus, "captures": captures}


def _bulk_trial(ctx, cat_dir: str, corpus: str) -> dict:
    """One cold-catalog ``CrawlJob.run``, timed as a whole."""
    job = _job(ctx, cat_dir, corpus, BULK_RPS, BULK_BURST)
    t0 = time.perf_counter()
    rounds = job.run(max_rounds=5)
    wall = time.perf_counter() - t0
    ctx.ops.attempted += len(rounds)
    return {"job": job, "wall_s": wall, "urls": frontier_urls(job.cat),
            "rounds": rounds, "bytes": dir_bytes(cat_dir)}


def crawl_bulk(ctx) -> dict:
    t0 = time.perf_counter()
    st = _bulk_setup(ctx)
    setup_s = ctx.session_start_s + (time.perf_counter() - t0)
    if ctx.recorder is not None:
        return _bulk_traced(ctx, st)

    ticks = cpu_ticks()
    trial = _bulk_trial(ctx, ctx.path("cat"), st["corpus"])
    ctx.log(f"crawl: {trial['wall_s']:.2f} s")
    steal = steal_share(ticks, cpu_ticks())
    rss = peak_rss_mb(os.getpid())
    checks.bulk_outputs(ctx, trial["job"], st["corpus"])
    ctx.log("checks done")
    return _result(ctx, {
        "setup_s": setup_s,
        "crawl_urls_per_s": trial["urls"] / trial["wall_s"],
        # the frontier drains in one round, so a round is the whole run()
        "round_p50_s": trial["wall_s"] / len(trial["rounds"]),
        "catalog_bytes_per_url": trial["bytes"] / trial["urls"],
    }, {
        "docs": BULK_DOCS, "captures": st["captures"],
        "frontier_urls": trial["urls"], "rounds": len(trial["rounds"]),
        "fragments_max": _fragments_max(trial["job"].cat),
        "antijoin_path": _antijoin_path(trial["job"]),
        "steal_share": steal, "peak_rss_mb": rss,
    })


def _bulk_traced(ctx, st: dict) -> dict:
    """One untraced crawl, then the same crawl traced and preceded by a
    staged replay of its round; then traced requests and the headline
    queries."""
    import headline
    import replay

    info = ctx.trace_info
    t0 = time.perf_counter()
    ref = _bulk_trial(ctx, ctx.path("cat_ref"), st["corpus"])
    info["untraced_s"] = time.perf_counter() - t0
    shutil.rmtree(ref["job"].cat.root, ignore_errors=True)
    ctx.log("untraced crawl done")

    sf = ctx.path("sf")
    inputs.write_star_tables(sf, ctx.seed, STAR_DOCS)
    with ctx.tracing():
        t1 = time.perf_counter()
        job = _job(ctx, ctx.path("cat"), st["corpus"], BULK_RPS, BULK_BURST)
        info["replay"] = replay.replay_round(ctx, job, 0)
        trial = _bulk_trial(ctx, ctx.path("cat"), st["corpus"])
        info["traced_s"] = time.perf_counter() - t1
        ctx.log("traced crawl done")
        answers = serve(ctx, trial["job"].cat,
                        inputs.request_stream(ctx.seed, TRACED_REQUESTS))
        info["queries_ms"] = headline.run_passes(ctx, sf,
                                                 headline.TEXT_QUERIES)
    ctx.log("requests and headline queries done")
    info["wall_s"] = time.perf_counter() - t0
    checks.bulk_outputs(ctx, trial["job"], st["corpus"])
    checks.search_answers(ctx, trial["job"].cat, answers)
    return _result(ctx, None, {
        "docs": BULK_DOCS, "captures": st["captures"],
        "frontier_urls": trial["urls"], "rounds": len(trial["rounds"]),
        "antijoin_path": info["replay"]["antijoin_path"],
    })


# -- crawl_rounds ---------------------------------------------------------------
def _rounds_setup(ctx) -> dict:
    """Inputs, then round 0 (the first arrival batch, which compiles the
    round's plans)."""
    spark, cores, seed = ctx.spark, ctx.cores, ctx.seed
    pool = ctx.path("pool")
    captures = inputs.write_corpus(spark, pool, ROUNDS_DOCS, words_scale=1,
                                   n_files=2 * cores, seed=seed)
    batches = inputs.write_arrivals(spark, pool, ctx.path("arrivals"),
                                    n_batches=ROUNDS_BATCHES,
                                    overlap_pct=ROUNDS_OVERLAP_PCT, seed=seed)
    ctx.log("inputs written")
    from chrono_scraper_spark.streaming.micro_batch import run_stream_round

    job = _job(ctx, ctx.path("cat"), pool, ROUNDS_RPS, ROUNDS_BURST)
    first = run_stream_round(job, spark.read.parquet(batches[0]))
    ctx.ops.attempted += 1
    ctx.log("warm-up done")
    # the measured rounds: every later arrival batch, then the drain rounds
    steps = [("stream", b) for b in batches[1:]] + \
        [("drain", None)] * ROUNDS_DRAIN
    return {"pool": pool, "batches": batches, "captures": captures,
            "job": job, "first": first, "steps": steps}


def _rounds_unit(ctx, job, steps: list) -> dict:
    """Run every step: a ``("stream", batch)`` through ``run_stream_round``,
    a ``("drain", None)`` as a one-round ``drain_frontier``."""
    from chrono_scraper_spark.streaming.micro_batch import (
        drain_frontier,
        run_stream_round,
    )

    rounds, round_s = [], []
    for kind, batch in steps:
        t1 = time.perf_counter()
        if kind == "stream":
            with _span(ctx, "streaming.round", "streaming"):
                c = run_stream_round(job, ctx.spark.read.parquet(batch))
        else:
            with _span(ctx, "streaming.drain", "streaming"):
                c = drain_frontier(job, max_rounds=1)[0]
        round_s.append(time.perf_counter() - t1)
        ctx.ops.attempted += 1
        rounds.append(c)
    return {"rounds": rounds, "round_s": round_s, "crawl_s": sum(round_s),
            "arrivals": [b for _k, b in steps]}


def crawl_rounds(ctx) -> dict:
    t0 = time.perf_counter()
    st = _rounds_setup(ctx)
    setup_s = ctx.session_start_s + (time.perf_counter() - t0)
    if ctx.recorder is not None:
        return _rounds_traced(ctx, st)

    job = st["job"]
    urls0, ticks = frontier_urls(job.cat), cpu_ticks()
    unit = _rounds_unit(ctx, job, st["steps"])
    ctx.log(f"{len(unit['round_s'])} rounds: "
            f"{[round(x, 2) for x in unit['round_s']]} s")
    steal = steal_share(ticks, cpu_ticks())
    rss = peak_rss_mb(os.getpid())
    urls = frontier_urls(job.cat)
    checks.rounds_outputs(ctx, job, [st["first"]] + unit["rounds"],
                          [st["batches"][0]] + unit["arrivals"])
    ctx.log("checks done")
    return _result(ctx, {
        "setup_s": setup_s,
        "crawl_urls_per_s": (urls - urls0) / unit["crawl_s"],
        "round_p50_s": statistics.median(unit["round_s"]),
        "catalog_bytes_per_url": dir_bytes(job.cat.root) / urls,
    }, {
        "docs": ROUNDS_DOCS, "captures": st["captures"],
        "batches": ROUNDS_BATCHES, "frontier_urls": urls,
        "rounds": 1 + len(unit["round_s"]),
        "url_seen_rows": job.cat.row_count("url_seen"),
        "fragments_max": _fragments_max(job.cat),
        "antijoin_path": _antijoin_path(job),
        "steal_share": steal, "peak_rss_mb": rss,
    })


def _rounds_traced(ctx, st: dict) -> dict:
    """The catalog after round 0 is copied; the original runs round 1
    (the second arrival batch) untraced, the copy replays round 1 in
    stages and then runs it traced; then traced requests and the
    crawl-family headline queries."""
    import headline
    import replay

    info = ctx.trace_info
    first_step = st["steps"][:1]
    shutil.copytree(st["job"].cat.root, ctx.path("cat_traced"))
    job = _job(ctx, ctx.path("cat_traced"), st["pool"], ROUNDS_RPS,
               ROUNDS_BURST)
    t0 = time.perf_counter()
    _rounds_unit(ctx, st["job"], first_step)
    info["untraced_s"] = time.perf_counter() - t0
    ctx.log("untraced round done")

    with ctx.tracing():
        t1 = time.perf_counter()
        info["replay"] = replay.replay_round(
            ctx, job, 1, new_pages=ctx.spark.read.parquet(st["batches"][1]))
        unit = _rounds_unit(ctx, job, first_step)
        info["traced_s"] = time.perf_counter() - t1
        answers = serve(ctx, job.cat,
                        inputs.request_stream(ctx.seed, TRACED_REQUESTS))
        sf = ctx.path("sf")
        inputs.write_star_tables(sf, ctx.seed, STAR_DOCS)
        info["queries_ms"] = headline.run_passes(ctx, sf,
                                                 headline.CRAWL_QUERIES)
    info["wall_s"] = time.perf_counter() - t0
    ctx.log("traced round, requests and headline queries done")
    checks.rounds_outputs(ctx, job, [st["first"]] + unit["rounds"],
                          [st["batches"][0]] + unit["arrivals"])
    checks.search_answers(ctx, job.cat, answers)
    return _result(ctx, None, {
        "docs": ROUNDS_DOCS, "captures": st["captures"],
        "rounds": 1 + len(unit["round_s"]),
        "url_seen_rows": job.cat.row_count("url_seen"),
        "fragments_max": _fragments_max(job.cat),
        "antijoin_path": info["replay"]["antijoin_path"],
    })


# -- shared ---------------------------------------------------------------------
def _fragments_max(cat) -> int:
    return max(len(cat.manifest(t)["fragments"])
               for t in ("url_seen", "fetch_log", "pages_out",
                         "inverted_terms", "filtered_log"))


def _antijoin_path(job) -> str:
    """Which seen-set anti-join the last round took: crawl.py uses the
    Bloom pre-filter above BLOOM_THRESHOLD rows of url_seen."""
    import replay
    from chrono_scraper_spark.plans.crawl import BLOOM_THRESHOLD

    last = max(job.completed_rounds())
    ver = replay.pinned_versions(job.cat, last).get("url_seen")
    seen = job.cat.row_count("url_seen", ver) if ver else 0
    if seen == 0:
        return "none"
    return "bloom" if seen > BLOOM_THRESHOLD else "exact"


UNITS = {
    "setup_s": "s", "crawl_urls_per_s": "URLs/s", "round_p50_s": "s",
    "catalog_bytes_per_url": "B/URL",
}


def _result(ctx, values: dict | None, stats: dict) -> dict:
    """The run's result; ``values`` is None in a traced run, whose
    per-layer metrics are filled in after Spark has stopped."""
    metrics = ({k: {"value": float(v), "unit": UNITS[k]}
                for k, v in values.items()} if values is not None else {})
    return {
        "correct": ctx.ops.failed == 0,
        "attempted": max(1, ctx.ops.attempted),
        "failed": ctx.ops.failed,
        "metrics": metrics,
        "stats": dict(stats, cores=ctx.cores, failures=ctx.ops.failures),
    }


WORKLOADS = {"crawl_bulk": crawl_bulk, "crawl_rounds": crawl_rounds}


def run(name: str, ctx) -> dict:
    return WORKLOADS[name](ctx)
