"""Structured Streaming surface (SURVEY §2.11 T1-T4).

The reference is a Celery-beat micro-batch system (celery_app.py:115-151);
the engine's batch round loop (plans/crawl.py) is the deterministic analog.
This module is the *streaming* deployment of that loop: new corpus files
arrive continuously and each micro-batch runs one crawl round via
``foreachBatch`` (``crawl_stream_writer`` → ``run_stream_round`` →
``CrawlJob.run_round``), so streaming and batch share one code path for
seen-set dedup, politeness, extraction and the catalog commits. Beside the
round, watermarked windowed aggregations handle late captures (the
reference's overlap_days=7 re-read window, incremental_scraping.py:131-146,
IS a 7-day allowed-lateness watermark), and sketch and alert writers merge
per-batch results into catalog tables.

Scale notes: state never lives in executor memory (the url_seen table is
the state, as in the batch design). The windowed aggregations use Spark's
streaming state store with watermark-based eviction — state is bounded by
(window × lateness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import ts14
from ..operators.dedup import collapse_digest, in_batch_dedup
from ..plans.catalog import SnapshotCatalog
from ..plans.crawl import FRONTIER_KEY
from ..sources.cdx import discover

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string, host string, path string, mime string, "
                "status int, digest string, length long, title string, "
                "doc_id long, n_cap long")


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-arrival stream over the corpus directory (new parquet files =
    new captures; the CDX-poll analog)."""
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def run_stream_round(job, new_pages: DataFrame) -> dict:
    """One streaming crawl round: the celery-beat tick analog
    (celery_app.py:115-151 — the reference's beat schedule kicks a crawl
    task per interval; here each micro-batch IS the tick).

    Candidates = discover(new captures) → digest collapse → in-batch
    dedup, UNION the frontier deferred by the previous round (pinned to
    its lineage row, exactly like the batch round loop). Everything after
    discovery — seen-set anti-join, filter chain, politeness token
    budget, global order, extraction, idempotent MERGE commits, lineage —
    is ``CrawlJob.run_round`` ITSELF via its ``discovered`` injection, so
    streaming and batch cannot drift: they run one code path.

    The round index and pinned versions come from the ``crawl_rounds``
    manifests and the seed list from the job's once-collected rows, so no
    Spark job runs here before the round's own.
    """
    round_idx = job.next_round()
    prev = job._prev_versions(round_idx)
    raw = discover(new_pages, job.seeds,
                   allowed_mime=None if job.include_attachments
                   else ["text/html"])
    cands = in_batch_dedup(collapse_digest(raw), FRONTIER_KEY)
    if round_idx > 0 and prev.get("frontier") is not None:
        carried = job._read_pinned("frontier", prev, "url string") \
            .drop("decision")
        cands = cands.unionByName(carried, allowMissingColumns=True)
        if "retry_count" in cands.columns:
            cands = cands.withColumn(
                "retry_count",
                F.coalesce(F.col("retry_count"), F.lit(0).cast("int")))
        # a deferred row and a re-arriving capture of the same key must
        # not both enter the round
        cands = in_batch_dedup(cands, FRONTIER_KEY)
    return job.run_round(round_idx, discovered=cands)


def crawl_stream_writer(stream: DataFrame, job, checkpoint_dir: str):
    """T1/T4: the full crawl loop as a Structured Streaming job — each
    micro-batch of newly arrived captures runs one ``run_stream_round``.
    Restart-safe twice over: the streaming checkpoint replays the batch,
    and every table write inside the round is an idempotent MERGE (the
    same torn-round convergence contract as ``CrawlJob.resume``)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns or batch_df.isEmpty():
            return
        run_stream_round(job, batch_df)

    return (stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def drain_frontier(job, max_rounds: int = 25) -> list[dict]:
    """Run deferred-frontier rounds until the frontier empties — the
    between-arrivals half of the beat loop (politeness deferred more work
    than one round's budget; no new captures needed to finish it)."""
    out: list[dict] = []
    for _ in range(max_rounds):
        res = job.run_round(job.next_round())
        out.append(res)
        if res.get("empty") or (res.get("deferred", 0) == 0
                                and res.get("retrying", 0) == 0):
            break
    return out


def windowed_capture_counts(stream: DataFrame,
                            watermark: str = "7 days",
                            window: str = "1 day") -> DataFrame:
    """T2: watermarked tumbling-window capture counts per host — late
    captures within ``watermark`` update their window; older ones are
    dropped and the state store evicts closed windows."""
    return (stream.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "host")
            .agg(F.count(F.lit(1)).alias("n_captures"),
                 F.approx_count_distinct("url").alias("n_urls"))
            .select(F.col("w.start").alias("window_start"), "host",
                    "n_captures", "n_urls"))


def sessionized_host_activity(stream: DataFrame,
                              watermark: str = "2 days",
                              gap: str = "30 minutes") -> DataFrame:
    """Stateful session windows per host: captures closer than ``gap``
    merge into one session (native ``session_window`` — variable-length
    state-store windows; the watermark closes sessions and evicts state).
    The batch twin (same expression over a static frame) is the oracle in
    test_streaming; only watermark-closed sessions are emitted in append
    mode, exactly the streaming-deployment contract."""
    return (stream.withWatermark("warc_ts", watermark)
            .groupBy(F.session_window("warc_ts", gap).alias("w"), "host")
            .agg(F.count(F.lit(1)).alias("n_captures"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "host", "n_captures"))


def hll_stream_writer(stream: DataFrame, catalog: SnapshotCatalog,
                      checkpoint_dir: str, col: str = "url",
                      keys: tuple = (), keys_schema: str = "",
                      table: str = "url_hll", p: int = 8):
    """Continuous distinct counting without storing the values: each
    micro-batch's HLL registers (operators/analytics.py) merge into a
    catalog table by per-bucket MAX. State is ≤ 2^p small ints per group
    FOREVER — the sketch, not the URL set, is what persists. Restart-safe
    for free: max-merge is idempotent, so a checkpoint-replayed batch
    converges to the same registers (same guarantee class as the MERGE
    commits, without needing per-batch delta rows)."""
    from ..operators.analytics import hll_registers, merge_hll_registers

    if keys and not keys_schema:
        raise ValueError(
            "keys requires keys_schema (e.g. keys=('host',), "
            "keys_schema='host string') — the empty first-batch frame "
            "must carry the key columns")
    schema = (keys_schema + ", " if keys_schema
              else "") + "bucket int, register int"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns or batch_df.isEmpty():
            return
        regs = hll_registers(batch_df, col, keys, p)
        prev = catalog.read_or_empty(table, schema)
        merged = merge_hll_registers(prev, regs, keys=keys)
        catalog.commit(table, merged, operation=f"hll_merge:{batch_id}",
                       properties={"batch_id": batch_id})

    return (stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def cms_stream_writer(stream: DataFrame, catalog: SnapshotCatalog,
                      checkpoint_dir: str, col: str = "host",
                      table: str = "host_cms", d: int = 4, w: int = 1024,
                      weight: str | None = None):
    """Continuous frequency sketching: each micro-batch's count-min cells
    land as per-batch DELTA rows keyed (batch_id, row, col_bucket) via
    idempotent MERGE — cell addition is NOT replay-idempotent, so the
    batch_id key carries the exactly-once guarantee instead (a replayed
    batch's rows already exist and merge to nothing). Read the live
    sketch with ``read_cms_sketch`` (sums the deltas — ≤ d·w rows per
    batch; compaction collapses history whenever the table is rewritten)."""
    from ..operators.analytics import cms_build

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns or batch_df.isEmpty():
            return
        cells = (cms_build(batch_df, col, d, w, weight)
                 .withColumn("batch_id", F.lit(int(batch_id))))
        catalog.merge_not_matched(
            table, cells, ["batch_id", "row", "col_bucket"],
            properties={"batch_id": batch_id})

    return (stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def read_cms_sketch(catalog: SnapshotCatalog, table: str = "host_cms"):
    """The live count-min state: per-batch delta cells summed — exactly
    ``cms_merge`` over every micro-batch ever committed."""
    return (catalog.read(table)
            .groupBy("row", "col_bucket")
            .agg(F.sum("cnt").alias("cnt")))


def alerts_stream_writer(stream: DataFrame, catalog: SnapshotCatalog,
                         checkpoint_dir: str, saved: DataFrame,
                         table: str = "alerts",
                         id_col=("url", "ts14"),
                         text_col: str = "text"):
    """Standing-search alert feed: each micro-batch of new captures runs
    ``alerts.match_saved_queries`` against the registered query table and
    lands matches keyed (query_id, *id_col) via idempotent MERGE. The
    default id is the CAPTURE key (url, ts14) — a re-crawl of a matching
    page alerts again for the new capture, while checkpoint replays of
    the same capture converge to one row. ``ts14`` derives from
    ``warc_ts`` when absent. Per-batch cost is batch-cardinality (the
    corpus never re-tokenizes)."""
    from ..operators.alerts import match_saved_queries

    ids = [id_col] if isinstance(id_col, str) else list(id_col)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns or batch_df.isEmpty():
            return
        df = batch_df
        if "ts14" in ids and "ts14" not in df.columns:
            df = df.withColumn("ts14", ts14(F.col("warc_ts")))
        m = match_saved_queries(df, saved, id_col=tuple(ids),
                                text_col=text_col)
        catalog.merge_not_matched(table, m, ["query_id", *ids],
                                  properties={"batch_id": batch_id})

    return (stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))
