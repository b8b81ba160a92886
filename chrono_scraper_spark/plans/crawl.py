"""The crawl pipeline: deterministic round-based frontier loop (SURVEY §7).

One round = discover → filter/annotate → dedup vs url_seen → politeness
schedule → extract (corpus lookup + Arrow UDF) → commit → lineage snapshot.
This replaces the reference's Celery task graph
(firecrawl_scraping.py:82-893) with set operations between snapshot tables;
crawl order and the final URL-seen set are deterministic functions of
(seed list, politeness budget) — the round contract.

Crash safety / resume: every per-round table write is an idempotent MERGE on
the round's natural key, and the ``crawl_rounds`` lineage row is committed
LAST. A crash mid-round leaves ``crawl_rounds`` without the round's row, so
``resume()`` re-runs the round and every MERGE converges to the same state
(reference analog: CDXResumeState + ON CONFLICT DO NOTHING,
scraping.py:180-277, cdx_deduplication_service.py:229-238).

Round state lives in manifests: each ``crawl_rounds`` append records the
round's ``round_idx`` and the ``table_versions`` it committed in its manifest
``properties`` (the lineage row keeps both columns for readers of the table).
Rounds run in order, so the current manifest alone answers
``completed_rounds``, ``next_round`` and ``_prev_versions`` with no Spark
job. A snapshot without round state (an offline maintenance ``compact`` or a
``rollback``) falls back to reading the lineage rows, one job, so resume
survives ``scripts/maintain_catalog.py``. Table reads are pinned to a
snapshot's schema id (plans/catalog.py), so they infer nothing either.
The Spark jobs left in a round are the ones that move data.

Scale: the only driver-side data are per-round counter dicts and the per-
partition lineage counts (one long per partition). Extraction runs over the
host-salted partitioning (P8) so a mega-host never pins one task; the seen-
set anti-join goes through the Bloom pre-filter once the seen set is big
enough to matter. A round materializes twice, at the decided candidates and
at the extracted rows, and both are local checkpoints, not caches: the
checkpoint cuts the plan lineage, so each later frame (the filtered_log
merge, the schedule and global order, the commit wave) plans
over a LogicalRDD leaf instead of the whole round with its ~120-regex
decision chain. The driver's analysis, cache lookups and plan strings then
scale with one phase, not the round (a write plan is 0.5-7.5 KB on the test
fixture, 33-330 KB with caches). The round's checkpoints and caches are
released in one ``finally``, after their last reader, whether the round
commits or raises: Spark never recomputes a local checkpoint, so a read
after the release fails.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import wait as futures_wait

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from .. import config as C
from ..functions.planutil import release
from ..operators.dedup import (
    anti_join_seen,
    bloom_prefilter_anti_join,
    collapse_digest,
    in_batch_dedup,
)
from ..operators.extraction import (
    with_extraction,
    with_extraction_cached,
    with_quality_score,
)
from ..operators.filters import with_filter_decision
from ..operators.index import build_inverted_terms, build_page_index
from ..operators.politeness import (
    robots_filter,
    schedule_round,
    with_global_order,
    with_salted_host_partition,
)
from ..sources.cdx import discover, read_pages, seed_rows
from ..sources.httpfetch import fetch_http
from .catalog import _UNSET as _CAT_UNSET
from .catalog import SnapshotCatalog

SEEN_SCHEMA = ("url_canon string, ts14 string, url string, status string, "
               "first_seen_round int")
FRONTIER_KEY = ["url_canon", "ts14"]
# Use the exact anti-join below this seen-set size; Bloom pre-filter above.
BLOOM_THRESHOLD = 100_000
# tables a round commits; the lineage row pins their versions
ROUND_TABLES = ("fetch_log", "url_seen", "pages_out", "inverted_terms",
                "seen_digests", "frontier", "filtered_log")
LINEAGE_SCHEMA = StructType([
    StructField("round_idx", IntegerType()),
    StructField("counters", StringType()),
    StructField("partition_lineage", StringType()),
    StructField("table_versions", StringType()),
])


class CrawlJob:
    # two-phase politeness ranking: prune per (host, salt) before the exact
    # per-host window — scheduled set provably identical, but a mega-host
    # never pins one task on a full frontier sort
    schedule_prune_k = 16

    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        pages_path: str,
        seeds: DataFrame | list[Row],
        *,
        rps: float = C.DEFAULT_HOST_RPS,
        burst: int = C.DEFAULT_HOST_BURST,
        round_seconds: float = C.DEFAULT_ROUND_SECONDS,
        include_attachments: bool = True,
        robots_rules: DataFrame | None = None,
        budget_overrides: DataFrame | None = None,
        salt_target_rows: int | None = None,
        retry_transient: bool = False,
        max_retries: int = C.MAX_RETRIES,
        failure_rate_trip: float | None = None,
        fetch_mode: str = "replay",
        http_fetch: dict | None = None,
        live_robots: bool = False,
        robots_ttl_s: float | None = None,
        honor_crawl_delay: bool = False,
        extract_cache: bool = False,
    ):
        self.spark = spark
        self.cat = catalog
        self.pages_path = pages_path
        # the seed list is config-scale: collected once, not every round
        self.seeds = seed_rows(seeds)
        # corpus schema, inferred on the first read only; the file listing
        # still runs on every read, so files added later are picked up
        self._pages_schema = None
        self.rps = rps
        self.burst = burst
        self.round_seconds = round_seconds
        self.include_attachments = include_attachments
        self.robots_rules = robots_rules
        self.budget_overrides = budget_overrides
        self.salt_target_rows = salt_target_rows
        # T7: re-enter failed rows next round until max_retries (celery
        # retry analog, shared_pages_scraping.py:277-284). Off by default:
        # corpus-replay failures are deterministic, so the reference-parity
        # mode terminalizes them immediately.
        self.retry_transient = retry_transient
        self.max_retries = max_retries
        # T8: driver-side circuit breaker between rounds
        # (circuit_breaker.py:16-277 — per-service breakers collapse to one
        # per-round failure-rate check under deterministic rounds).
        self.failure_rate_trip = failure_rate_trip
        # E11: digest-keyed extraction-cache table (extraction.py:
        # with_extraction_cached) — recrawled unchanged payloads skip the
        # Arrow kernel. Off by default: a one-pass replay never re-sees a
        # payload, so the cache would only add a join.
        self.extract_cache = extract_cache
        # S7: "replay" joins payloads from the corpus (default; deterministic
        # parity mode); "http" fetches each scheduled URL live through
        # sources.httpfetch.fetch_http (kwargs via ``http_fetch``) — the
        # content_extraction_service.py:99-135 deployment mode.
        if fetch_mode not in ("replay", "http"):
            raise ValueError(f"fetch_mode must be replay|http: {fetch_mode}")
        self.fetch_mode = fetch_mode
        self.http_fetch = dict(http_fetch or {})
        # P10 live composition: fetch each candidate host's robots.txt over
        # the same HTTP stage each round (reference: RobotFileParser per
        # host) and apply the parsed rules INSTEAD of the static
        # ``robots_rules`` frame. Rules merge with any static frame would be
        # ambiguous, so live mode requires robots_rules=None. Default
        # robots_ttl_s=None refetches every round (zero-TTL); setting a TTL
        # maintains the ``robots_cache`` catalog table so only
        # missing/expired hosts refetch (the production knob, same shape as
        # the extraction cache).
        if live_robots and fetch_mode != "http":
            raise ValueError("live_robots requires fetch_mode='http'")
        if live_robots and robots_rules is not None:
            raise ValueError("live_robots replaces robots_rules; pass one")
        self.live_robots = live_robots
        self.robots_ttl_s = robots_ttl_s
        # honor Crawl-delay directives from the live-fetched robots bodies:
        # per-host per-round budgets floor(round_seconds/delay) merged into
        # budget_overrides (most restrictive wins). Needs the bodies, hence
        # live_robots.
        if honor_crawl_delay and not live_robots:
            raise ValueError("honor_crawl_delay requires live_robots=True "
                             "(Crawl-delay lives in the robots bodies)")
        self.honor_crawl_delay = honor_crawl_delay

    # ------------------------------------------------------------------ state
    def _lineage_versions(self) -> dict[int, dict]:
        """``round_idx → table_versions`` from the lineage rows: one Spark
        job. Only for what the current manifest cannot answer: a snapshot
        that records no round state (a maintenance ``compact``, a
        ``rollback``) or a re-run of an older round."""
        return {r["round_idx"]: json.loads(r["table_versions"]) for r in
                self.cat.read("crawl_rounds")
                .select("round_idx", "table_versions").collect()}

    def _last_round(self) -> tuple[int, dict] | None:
        """``(round_idx, table_versions)`` of the newest completed round.
        Rounds run in order and each lineage append records both in its
        manifest, so the current ``crawl_rounds`` manifest holds them: one
        local file read, no Spark job (Iceberg analog: the current
        snapshot's summary)."""
        m = self.cat.manifest("crawl_rounds")
        if m is None:
            return None
        props = m["properties"]
        if "table_versions" in props:
            return props["round_idx"], props["table_versions"]
        rows = self._lineage_versions()
        if not rows:
            return None
        last = max(rows)
        return last, rows[last]

    def completed_rounds(self) -> list[int]:
        last = self._last_round()
        return [] if last is None else list(range(last[0] + 1))

    def next_round(self) -> int:
        last = self._last_round()
        return 0 if last is None else last[0] + 1

    def _prev_versions(self, round_idx: int) -> dict:
        """Table versions committed by round ``round_idx - 1`` (from its
        lineage manifest). All round inputs are pinned to these versions so
        a crashed round replays against exactly the state it first saw — a
        torn commit can never leak into the replay (Iceberg analog:
        snapshot-id-pinned reads off the last crawl_rounds entry)."""
        if round_idx == 0:
            return {}
        last = self._last_round()
        if last is None or last[0] < round_idx - 1:
            raise RuntimeError(
                f"cannot run round {round_idx}: round {round_idx - 1} has no "
                f"lineage row (run rounds in order)")
        if last[0] == round_idx - 1:
            return last[1]
        # re-running an older round: its versions are in the lineage rows
        return self._lineage_versions()[round_idx - 1]

    def _read_pinned(self, table: str, prev: dict, schema: str) -> DataFrame:
        version = prev.get(table)
        if version is None:
            return self.spark.createDataFrame([], schema)
        return self.cat.read(table, version=version)

    def _read_pages(self) -> DataFrame:
        pages = read_pages(self.spark, self.pages_path, self._pages_schema)
        self._pages_schema = pages.schema
        return pages

    def _seen_digests(self, prev: dict) -> DataFrame:
        """D3: digests of already-completed pages (drives the
        already_processed filter branch), pinned to the previous round:
        the ``seen_digests`` table every round commits (already distinct;
        one fragment per round). Before the first round it is an empty
        frame, not None: skipping the join would give round 0 a different
        decision plan, and the first later round would then compile the
        ~120-regex chain cold (+1.4 s in the first stream round, measured
        on a 4-core VM)."""
        ver = prev.get("seen_digests")
        if ver is None:
            return self.spark.createDataFrame([], "digest string")
        return self.cat.read("seen_digests", version=ver)

    # -------------------------------------------------------------- discovery
    def _discover_round0(self, held: list[DataFrame]
                         ) -> tuple[DataFrame, dict]:
        """Round 0's candidates and discovery counters. What it persists
        goes on ``held``, which the round releases."""
        pages = self._read_pages()
        raw = discover(pages, self.seeds,
                       allowed_mime=None if self.include_attachments
                       else ["text/html"]).cache()
        held.append(raw)
        n_discovered = raw.count()
        # D1: one capture per content digest, earliest wins;
        # D2/D8: in-batch (url, ts) dedup. Cache the DEDUPED set — it feeds
        # the decision chain and the round body; caching upstream instead
        # would re-run both window shuffles.
        cands = in_batch_dedup(collapse_digest(raw), FRONTIER_KEY).cache()
        held.append(cands)
        n_unique = cands.count()
        return cands, {"discovered": n_discovered,
                       "digest_collapsed_or_dup": n_discovered - n_unique}

    # ------------------------------------------------------------------ round
    def run_round(self, round_idx: int,
                  discovered: DataFrame | None = None) -> dict:
        """Run one crawl round. ``discovered`` injects the round's
        candidate set directly (already digest-collapsed/deduped) instead
        of the default discovery — the streaming deployment composes
        new-capture candidates ∪ carried frontier per micro-batch
        (streaming/micro_batch.py::run_stream_round) and everything after
        discovery is the identical code path."""
        import time as _time

        counters: dict = {"round_idx": round_idx}
        timings: dict = {}
        _t0 = _time.time()

        def _tick(phase: str) -> None:
            nonlocal _t0
            t1 = _time.time()
            timings[phase] = round(t1 - _t0, 3)
            _t0 = t1

        prev = self._prev_versions(round_idx)
        # frames the round persists (caches and local checkpoints); the
        # finally below releases them whether the round commits or raises
        held: list[DataFrame] = []
        filtered_log_fut = None
        try:
            if discovered is not None:
                cands = (discovered.drop("decision")
                         if "decision" in discovered.columns else discovered)
            elif round_idx == 0:
                cands, disc_counters = self._discover_round0(held)
                counters.update(disc_counters)
            else:
                if prev.get("frontier") is None:
                    return {**counters, "empty": True}
                # deferred rows re-enter the chain from the top: the decision is
                # recomputed because the seen-digest set may have grown (a digest
                # completed via another URL makes a deferred row already_processed)
                cands = self._read_pinned("frontier", prev, "url string").drop(
                    "decision")
                counters["discovered"] = 0

            # dedup vs the committed URL-seen set (D4): Bloom pre-filter above
            # threshold, plain anti-join below. The strategy pick + Bloom sizing
            # need the seen-set cardinality — taken from the pinned snapshot's
            # manifest/footer metadata (catalog.row_count), NOT a count job: a
            # per-round COUNT over a 10^10-row table would be an O(table) scan
            # every round (Iceberg reads total-records from snapshot metadata
            # the same way).
            seen = self._read_pinned("url_seen", prev, SEEN_SCHEMA)
            seen_ver = prev.get("url_seen")
            seen_n = (self.cat.row_count("url_seen", seen_ver)
                      if seen_ver is not None else 0)
            if seen_n > BLOOM_THRESHOLD:
                cands = bloom_prefilter_anti_join(cands, seen, FRONTIER_KEY,
                                                  expected_items=seen_n)
            elif seen_n > 0:
                cands = anti_join_seen(cands, seen, FRONTIER_KEY)

            # robots hook (north_rule; allow-all default keeps reference parity).
            # live_robots: one robots.txt GET per distinct candidate host through
            # the same keep-alive fetch stage, parsed to rules for THIS round —
            # the host-cardinality fetch is negligible next to the page fetch.
            # robots_ttl_s: TTL'd robots_cache catalog table — only hosts whose
            # entry is missing/expired refetch (allow-all 404s are cached as
            # NULL bodies so they don't refetch every round); the refreshed
            # cache commits BEFORE use, so a torn-round replay reads the same
            # bodies instead of refetching a possibly-changed live file.
            round_budget_overrides = self.budget_overrides
            if self.live_robots:
                from ..operators.politeness import parse_robots
                from ..sources.httpfetch import fetch_robots

                if self.robots_ttl_s is None:
                    robots_bodies = fetch_robots(cands, **self.http_fetch)
                else:
                    import time as _t

                    now = float(_t.time())
                    hosts = cands.select("host").distinct()
                    cache = self.cat.read_or_empty(
                        "robots_cache",
                        "host string, body string, fetched_at_unix double")
                    fresh = cache.filter(
                        F.col("fetched_at_unix") >= now - self.robots_ttl_s)
                    missing = hosts.join(fresh.select("host"), "host",
                                         "left_anti")
                    fetched = fetch_robots(
                        missing, keep_missing=True, **self.http_fetch,
                    ).withColumn("fetched_at_unix", F.lit(now))
                    new_cache = fresh.unionByName(fetched)
                    self.cat.commit("robots_cache", new_cache,
                                    operation="overwrite",
                                    properties={"round_idx": round_idx})
                    robots_bodies = (self.cat.read("robots_cache")
                                     .join(hosts, "host", "left_semi")
                                     .filter(F.col("body").isNotNull())
                                     .select("host", "body"))
                rules = parse_robots(robots_bodies)
                if self.honor_crawl_delay:
                    from ..operators.politeness import (
                        crawl_delay_budgets,
                        merge_budget_overrides,
                        parse_crawl_delays,
                    )

                    delay_budgets = crawl_delay_budgets(
                        parse_crawl_delays(robots_bodies), self.round_seconds)
                    round_budget_overrides = merge_budget_overrides(
                        round_budget_overrides, delay_budgets)
            else:
                rules = self.robots_rules
            cands = robots_filter(cands, rules)

            # filter-decision chain (F1-F7), annotating not dropping. A local
            # checkpoint, not a cache: it cuts the round's plan lineage here,
            # so nothing below re-plans discovery, the anti-join and the
            # ~120-regex chain (module docstring, "Scale")
            decided = with_filter_decision(
                cands, seen_digests=self._seen_digests(prev),
                include_attachments=self.include_attachments,
            ).localCheckpoint(eager=False)
            held.append(decided)

            # this pass fills the checkpoint, so this tick measures the
            # discover/dedup/decide phase and the next one the MERGE. One
            # pass gives both numbers the round needs up front: decided and
            # pending (the bound that sizes the global order below);
            # filtered = decided - pending, by arithmetic
            status_counts = {
                r["status"]: r["count"] for r in
                decided.groupBy(F.col("decision.status").alias("status"))
                .count().collect()}
            counters["decided"] = sum(status_counts.values())
            n_pending = int(status_counts.get(C.STATUS_PENDING, 0))
            counters["filtered"] = counters["decided"] - n_pending
            is_pending = F.col("decision.status") == C.STATUS_PENDING
            filtered = decided.filter(~is_pending)
            pending = decided.filter(is_pending)
            _tick("discover_dedup_decide")

            # record filtered rows once (reference keeps FILTERED_*
            # ScrapePages). Batch rounds prove key-newness: a key filtered
            # once leaves the frontier permanently (only deferred/retryable
            # rows carry forward, and those were pending, not filtered), so
            # the delta cannot collide with earlier rounds and the merge may
            # skip the existing-key probe while the table sits at its pinned
            # version. Streaming rounds (injected ``discovered``) can
            # re-present an already-filtered capture, so they keep the
            # unconditional probe.
            #
            # The filtered_log commit depends only on the (already
            # materialized) decision checkpoint — nothing downstream reads it
            # this round — so it runs as a CONCURRENT Spark job overlapping
            # the politeness windows and the fetch/extract stage (guide §2.6:
            # submit independent jobs from a driver thread so their tasks
            # back-fill executors freed by the foreground job's tail). The
            # future is awaited with the other table commits, strictly before
            # the lineage row; crash-safety is unchanged (idempotent MERGE,
            # lineage commits last).
            _filtered_pool = ThreadPoolExecutor(max_workers=1)
            filtered_log_fut = _filtered_pool.submit(
                self.cat.merge_not_matched,
                "filtered_log",
                filtered.select(
                    "url", "url_canon", "ts14", "host", "digest", "length",
                    F.col("decision.status").alias("status"),
                    F.col("decision.reason").alias("filter_reason"),
                    F.col("decision.matched_pattern").alias("matched_pattern"),
                    F.col("decision.confidence").alias("filter_confidence"),
                    F.lit(round_idx).alias("round_idx"),
                ),
                FRONTIER_KEY, properties={"round_idx": round_idx},
                assume_unique=True,
                expect_version=(prev.get("filtered_log") if discovered is None
                                else _CAT_UNSET),
                max_rows=counters["filtered"],
            )
            _filtered_pool.shutdown(wait=False)
            _tick("commit_filtered_log")

            # politeness budget split (P4/W5)
            sched = schedule_round(
                pending, round_idx=round_idx, rps=self.rps, burst=self.burst,
                round_seconds=self.round_seconds,
                budget_overrides=round_budget_overrides,
                prune_salt_k=self.schedule_prune_k,
            ).cache()
            held.append(sched)
            scheduled = sched.filter(F.col("sched_status") == "scheduled")
            deferred = sched.filter(F.col("sched_status") == "deferred")

            # deterministic global crawl order within the round (P1). The
            # pending count bounds the scheduled rows, which sizes the range
            # exchange: a round-sized schedule fits one range partition,
            # whose offsets are known, so no sampling, cache or count job
            # runs; a wider one pays them eagerly here, before fetch/extract
            scheduled = with_global_order(scheduled, max_rows=n_pending)
            if hasattr(scheduled, "_global_order_cache"):
                held.append(scheduled._global_order_cache)
            _tick("schedule_order")

            # FETCH: the frontier is metadata-only; payloads join back for the
            # scheduled subset. Broadcasting the scheduled keys keeps the
            # (payload-heavy) corpus side unshuffled — html moves zero times
            # before extraction. In live-fetch mode (origin HTTP),
            # with_salted_host_partition distributes the scheduled set
            # instead (P8; operator tested separately).
            if "retry_count" not in scheduled.columns:
                scheduled = scheduled.withColumn("retry_count",
                                                 F.lit(0).cast("int"))
            # pending bounds the scheduled count (salt sizing and the
            # broadcast cutoff below); the exact scheduled and deferred
            # counts come from the extraction aggregation and the frontier
            # commit, so no count job runs over the schedule
            parallelism = self.spark.sparkContext.defaultParallelism
            salt_target = self.salt_target_rows or max(
                200, n_pending // max(1, parallelism * 4))
            if self.fetch_mode == "http":
                # S7 live fetch: no corpus join — salt the scheduled set over
                # (host, salt) so each host's requests serialize in one
                # partition (fetch_http paces them), mega-hosts split to their
                # budget-capped salt groups, and the cluster stays wide. Failed
                # fetches come back html=NULL and terminalize through the
                # extractor's dead-letter path exactly like replay's
                # missing-payload rows.
                work = with_salted_host_partition(
                    scheduled, target_rows_per_partition=salt_target)
                # http_status/fetch_err are KEPT: fetch_log needs them to
                # distinguish a definitive 404 from a transient timeout, and
                # the transient-retry split below gates on them (the
                # reference retries transport errors, not hard 4xx —
                # shared_pages_scraping.py retry policy)
                work = fetch_http(work, **self.http_fetch)
            else:
                pages_raw = self._read_pages()
                # a corpus that stores ts14 joins on the stored column
                if "ts14" in pages_raw.columns:
                    payload = pages_raw.select("url", "ts14", "html")
                else:
                    payload = pages_raw.select(
                        "url",
                        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("ts14"),
                        "html")
                # broadcast only while the scheduled set is genuinely small;
                # above the cutoff the fetch join falls back to a full
                # shuffle join
                broadcasting = n_pending <= 500_000
                if broadcasting:
                    work = payload.join(F.broadcast(scheduled), ["url", "ts14"],
                                        "inner")
                else:
                    work = payload.join(scheduled, ["url", "ts14"], "inner")
                # Scheduled rows with no matching payload (partial-corpus mode)
                # must still terminalize: give them a null payload so the
                # extractor marks them failed — they enter fetch_log + url_seen
                # instead of silently vanishing from the inner join.
                missing = (scheduled
                           .join(payload.select("url", "ts14"), ["url", "ts14"],
                                 "left_anti")
                           .withColumn("html", F.lit(None).cast("binary")))
                work = work.unionByName(missing, allowMissingColumns=True)
                # P8 / extraction partitioning. Replay mode with a broadcast
                # fetch-join needs NO repartition: the join output inherits the
                # corpus scan's parquet splits, which are BYTE-balanced
                # regardless of host skew (extraction cost ∝ bytes), and the
                # payloads never shuffle. Only when the map side is too coarse
                # to feed the cluster (few splits), or when the payloads were
                # shuffle-joined anyway, is the work salted over (host, salt) —
                # with the per-partition target sized to the round (≈4
                # tasks/core), not a fixed constant: a fixed 50k target gave one
                # 30k-row mega-host partition a 7-8 s straggler.
                scan_parts = payload.rdd.getNumPartitions()
                if (not broadcasting
                        or scan_parts < max(2, parallelism * 3 // 4)):
                    work = with_salted_host_partition(
                        work, target_rows_per_partition=salt_target)
            # uniform fetch-provenance columns: replay mode has no HTTP layer,
            # so its rows carry NULLs (a missing payload is transport-shaped —
            # unknown status — matching the transient gate below)
            if "http_status" not in work.columns:
                work = (work
                        .withColumn("http_status", F.lit(None).cast("int"))
                        .withColumn("fetch_err", F.lit(None).cast("string")))
            # html is consumed by the extraction UDF and nothing after it —
            # dropping it before the checkpoint keeps ~half the stored bytes
            # (5 KB payload/row) out of memory and out of every downstream
            # read
            if self.extract_cache:
                # E11: payload-hash cache table — unchanged payloads across
                # rounds/recrawls skip the Arrow kernel (extraction.py docstring)
                extracted = with_extraction_cached(work, self.cat).drop("html")
            else:
                extracted = with_extraction(work).drop("html")
            # the second lineage cut: the commits below plan over the
            # extracted rows, not over the fetch join and the schedule
            extracted = with_quality_score(
                extracted, "extracted.text").localCheckpoint(eager=False)
            held.append(extracted)

            # T7: transient-retry split — failed rows below the retry cap
            # re-enter the next round's frontier instead of terminalizing.
            # Only TRANSIENT failures retry: transport-level (http_status NULL —
            # timeout/refused/missing payload) or retryable statuses; a
            # definitive 404/410 terminalizes immediately (the reference's
            # retry policy covers transport errors, not hard 4xx)
            transient = (F.col("http_status").isNull()
                         | F.col("http_status").isin(429, 500, 502, 503, 504))
            if self.retry_transient:
                retryable = extracted.filter(
                    (F.col("fetch_status") == C.STATUS_FAILED)
                    & transient
                    & (F.col("retry_count") < self.max_retries))
                terminal = extracted.filter(
                    (F.col("fetch_status") != C.STATUS_FAILED)
                    | ~transient
                    | (F.col("retry_count") >= self.max_retries))
            else:
                retryable = extracted.limit(0)
                terminal = extracted

            # per-partition lineage: rows extracted per (host-salted)
            # partition — this action also fills the extraction checkpoint.
            # fetch_status rides in the same aggregation so the later status
            # counters need no second scan of it (one job instead of two).
            part_status = (
                extracted.groupBy(F.spark_partition_id().alias("pid"),
                                  "fetch_status")
                .count().collect()
            )
            pid_totals: dict[int, int] = {}
            status_totals: dict[str, int] = {}
            for r in part_status:
                pid_totals[r["pid"]] = pid_totals.get(r["pid"], 0) + r["count"]
                status_totals[r["fetch_status"]] = (
                    status_totals.get(r["fetch_status"], 0) + r["count"])
            part_counts = [{"pid": pid, "count": pid_totals[pid]}
                           for pid in sorted(pid_totals)]
            _tick("fetch_extract")

            counters["scheduled"] = sum(r["count"] for r in part_counts)
            counters["completed"] = int(status_totals.get(C.STATUS_COMPLETED, 0))
            counters["failed"] = int(status_totals.get(C.STATUS_FAILED, 0))
            _tick("counters")

            # ---- commits (idempotent MERGEs + the frontier overwrite;
            # lineage row last) ----
            # The five table merges and the frontier overwrite are
            # independent (different tables, all projections of the
            # round's two checkpoints), so they run as ONE wave of
            # CONCURRENT Spark jobs from a small thread pool — write stalls
            # of one commit fill with compute/IO of another; ordering only
            # matters for the lineage row, which still commits strictly
            # last, after every commit of the wave and the background
            # filtered_log merge. Each write passes a row bound the round
            # already holds (no count job), which sizes its data files
            # (catalog.TARGET_FILE_ROWS): a round's delta is one file.
            # fetch_log records every ATTEMPT: keyed per round so retried rows
            # appear once per attempt, and a replayed round converges
            fetch_rows = extracted.select(
                F.lit(round_idx).alias("round_idx"), "seq", "url", "url_canon",
                "ts14", "host", "digest", "length",
                F.col("decision.priority_score").alias("priority_score"),
                F.col("decision.reason").alias("filter_reason"),
                "fetch_status", "retry_count", "http_status", "fetch_err",
                F.col("extracted.word_count").alias("word_count"),
                F.col("extracted.method").alias("extract_method"),
            )
            # only terminal outcomes enter the seen set — a retryable failure
            # must stay eligible for the next round's anti-join
            seen_rows = terminal.select(
                "url_canon", "ts14", "url",
                F.col("fetch_status").alias("status"),
                F.lit(round_idx).alias("first_seen_round"),
            )
            completed = extracted.filter(F.col("fetch_status") == C.STATUS_COMPLETED)
            pages_out = completed.select(
                "url", "url_canon", "ts14", "host", "warc_ts", "lang", "digest",
                F.col("extracted.text").alias("extracted_text"),
                F.col("extracted.title").alias("title"),
                F.col("extracted.word_count").alias("word_count"),
                "quality_score",
                F.lit(round_idx).alias("round_idx"), "seq",
            )
            # page_index is NOT a separate table: it is a projection of
            # pages_out (operators/index.py::page_index_from_pages_out) —
            # committing it would write the full text content twice per round
            page_index = build_page_index(completed)
            inv = build_inverted_terms(page_index, doc_key="seq")

            # Key-newness of each delta is already proven by the round-start
            # anti-join against url_seen@pinned (a key that ever terminalized is
            # in url_seen; fetch_log keys carry the fresh round_idx), so when a
            # table still sits at its pinned version the merge skips the
            # existing-key probe — commit cost O(delta), not O(accumulated
            # table). A torn-round replay advances the version and the merge
            # falls back to the exact anti-join (same converged state).
            # filtered_log (above) keeps the probe unconditionally: filtered
            # keys never enter url_seen and may re-present across rounds.
            # seen_digests: the decision chain's already_processed set as its
            # own incrementally-deduped table (read next round WITHOUT the old
            # per-round fetch_log→distinct shuffle). A digest in the pinned set
            # can't re-complete (its candidates get already_processed), so the
            # delta is proven-new; within-round duplicates are possible only in
            # streaming (a new capture sharing a deferred row's digest), hence
            # assume_unique=False — the dedup shuffle is delta-sized.
            digest_rows = (completed.select("digest")
                           .filter(F.col("digest").isNotNull()))
            # (table, delta, keys, assume_unique, row bound): every attempt
            # was scheduled, and only completed pages reach pages_out and
            # seen_digests; a round's postings have no bound the round holds
            n_sched, n_done = counters["scheduled"], counters["completed"]
            commit_jobs = [
                ("fetch_log", fetch_rows, ["round_idx", *FRONTIER_KEY], True,
                 n_sched),
                ("url_seen", seen_rows, FRONTIER_KEY, True, n_sched),
                ("pages_out", pages_out, FRONTIER_KEY, True, n_done),
                ("inverted_terms", inv, ["term", "url_canon", "ts14"], True,
                 None),
                ("seen_digests", digest_rows, ["digest"], False, n_done),
            ]

            # the open frontier = deferred rows ∪ retryable failures (with
            # retry_count bumped), the next round's candidates; both are
            # pending rows of this round, so the pending count bounds it
            next_frontier = deferred.drop("host_rank", "sched_status")
            if "retry_count" not in next_frontier.columns:
                next_frontier = next_frontier.withColumn(
                    "retry_count", F.lit(0).cast("int"))
            if self.retry_transient:
                retry_rows = retryable.withColumn(
                    "retry_count", F.col("retry_count") + 1
                ).select(*next_frontier.columns)
                next_frontier = next_frontier.unionByName(retry_rows)
                counters["retrying"] = retry_rows.count()

            # leaving the pool awaits every commit, even when one raises
            with ThreadPoolExecutor(max_workers=len(commit_jobs) + 1) as pool:
                futs = [
                    pool.submit(self.cat.merge_not_matched, table, df, keys,
                                properties={"round_idx": round_idx},
                                assume_unique=uniq,
                                expect_version=prev.get(table),
                                max_rows=bound)
                    for table, df, keys, uniq, bound in commit_jobs
                ]
                frontier_fut = pool.submit(
                    self.cat.commit, "frontier", next_frontier,
                    operation="overwrite", properties={"round_idx": round_idx},
                    max_rows=n_pending)
                for f in futs:
                    f.result()
                frontier_m = frontier_fut.result()
            # the background filtered_log commit (submitted before the
            # schedule phase) must land before the lineage row pins versions
            filtered_log_fut.result()
            # the frontier's footer row count, not a count over the schedule:
            # exact even if a payload join duplicated a scheduled row
            counters["deferred"] = (frontier_m["row_count"]
                                    - counters.get("retrying", 0))
            _tick("commit_tables")
        finally:
            # no background commit outlives a failed round: a retry in
            # this process could otherwise allocate the same filtered_log
            # version while the orphaned merge is still writing it
            if filtered_log_fut is not None:
                futures_wait([filtered_log_fut])
            # nor does any persisted frame. Released only here: the merge
            # above reads `decided`, and the frontier commit in the wave
            # reads `sched`, which is planned over it; a local checkpoint is
            # never recomputed, so a read after its release raises
            for df in held:
                release(df)
        counters["timings"] = timings

        # lineage row LAST — this is the round's commit point. Its manifest
        # carries the round state too, so reading it needs no Spark job
        versions = {t: self.cat.current_version(t) for t in ROUND_TABLES}
        lineage = (round_idx, json.dumps(counters),
                   json.dumps([{"pid": r["pid"], "rows": r["count"]}
                               for r in part_counts]),
                   json.dumps(versions))
        self.cat.append_rows("crawl_rounds", [lineage], LINEAGE_SCHEMA,
                             properties={"round_idx": round_idx,
                                         "table_versions": versions})
        # NOTE: compaction and disk reclaim run OFFLINE between crawl runs
        # (scripts/maintain_catalog.py), never here: this round's lineage row
        # pins the versions a torn-round replay reads, and expiring them
        # would break a replay after a crash — the same reason Iceberg
        # separates expire_snapshots from writers.
        return counters

    # ------------------------------------------------------------------ runs
    def run(self, max_rounds: int = 100) -> list[dict]:
        """Run rounds from wherever the catalog left off until the frontier
        drains (or ``max_rounds``)."""
        out = []
        start = self.next_round()
        for round_idx in range(start, start + max_rounds):
            counters = self.run_round(round_idx)
            out.append(counters)
            if counters.get("empty"):
                break
            if (counters.get("deferred", 0) == 0
                    and counters.get("retrying", 0) == 0):
                break
            # T8: trip the breaker when a round's failure rate exceeds the
            # configured threshold (driver-side, between rounds)
            attempts = counters.get("completed", 0) + counters.get("failed", 0)
            if (self.failure_rate_trip is not None and attempts > 0
                    and counters.get("failed", 0) / attempts
                    > self.failure_rate_trip):
                counters["circuit_open"] = True
                break
        return out
