"""URL-seen / digest dedup operators (SURVEY §2.3 D1-D9).

The seen-set key is ``(url_canon, ts14)`` — the reference's UNIQUE
``(url, unix_timestamp)`` (shared_pages.py:88,221). Content dedup keys on
``digest`` (CDX ``collapse=digest``, wayback_machine.py:777).

Scale design:
- ``collapse_digest`` is a window, not a groupBy-then-join: one shuffle on
  digest, earliest capture wins deterministically.
- ``anti_join_seen`` is the core frontier dedup (D4). At 10^10 seen keys a
  plain anti-join shuffles the entire seen table every round, so
  ``bloom_prefilter_anti_join`` first drops the definitely-unseen candidates
  with a Bloom filter built from the seen side (false positives re-checked by
  the exact anti-join — never a false drop). The Bloom build is one pass over
  the seen table's key column; candidates are filtered map-side before the
  (much smaller) exact join. On a real cluster the filter is built per
  url-bucket partition and only the matching bucket's filter is applied to
  the matching candidate partition, keeping each filter ~100 MB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEEN_KEY = ["url_canon", "ts14"]


def _tie_break_order(frontier: DataFrame) -> list:
    """Deterministic window order: (warc_ts, url) plus project_id when the
    frontier carries one — discover() fans out one row per matching project
    with identical (url, ts), so without project_id in the order the
    surviving project attribution would be partition-order nondeterministic."""
    order = [F.col("warc_ts").asc(), F.col("url").asc()]
    if "project_id" in frontier.columns:
        order.append(F.col("project_id").asc_nulls_last())
    return order


def collapse_digest(frontier: DataFrame, digest_col: str = "digest") -> DataFrame:
    """D1/W4: keep the earliest capture per content digest
    (deterministic tie-break on url, ts, then project_id)."""
    w = Window.partitionBy(digest_col).orderBy(*_tie_break_order(frontier))
    return (
        frontier.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_seen(candidates: DataFrame, url_seen: DataFrame,
                   keys: list[str] = SEEN_KEY) -> DataFrame:
    """D4: candidates not yet in the seen set (exact left-anti)."""
    return candidates.join(url_seen.select(*keys), keys, "left_anti")


def bloom_prefilter_anti_join(
    candidates: DataFrame,
    url_seen: DataFrame,
    keys: list[str] = SEEN_KEY,
    expected_items: int | None = None,
    fpp: float = 0.01,
    n_buckets: int | None = None,
    bloom_dir: str | None = None,
) -> DataFrame:
    """D4 at scale: Bloom-prefiltered exact anti-join.

    1. build a Bloom filter over the seen side's composite key,
    2. map-side drop candidates whose key is definitely unseen,
    3. exact anti-join only the "maybe seen" remainder,
    4. union the definitely-unseen back in.

    A Bloom false positive only costs a row in the exact join; a false
    negative is impossible, so no candidate is ever wrongly dropped.

    ``n_buckets``: the 10^10-key path — per-bucket filters built executor-
    side and written under ``bloom_dir`` (shared storage), probed bucket-
    locally; no global broadcast, no driver bitmap merge
    (functions/bloom.py:build_bloom_partitioned). Without it, one global
    filter is built and broadcast (fine to ~10^8 keys).
    """
    from ..functions.bloom import (
        build_bloom,
        build_bloom_partitioned,
        with_bloom_probe,
        with_bloom_probe_partitioned,
    )

    key_expr = F.concat_ws("\x1f", *[F.col(k) for k in keys])
    n = expected_items or url_seen.count()
    if n == 0:
        return candidates
    if n_buckets:
        import tempfile

        out_dir = bloom_dir or tempfile.mkdtemp(prefix="bloom_buckets_")
        meta = build_bloom_partitioned(url_seen, key_expr, out_dir, n,
                                       n_buckets=n_buckets, fpp=fpp)
        cand = with_bloom_probe_partitioned(candidates, key_expr, meta,
                                            "__maybe")
    else:
        bloom = build_bloom(url_seen, key_expr, n, fpp)
        cand = with_bloom_probe(candidates, key_expr, bloom, "__maybe")
    definitely_new = cand.filter(~F.col("__maybe")).drop("__maybe")
    maybe = cand.filter(F.col("__maybe")).drop("__maybe")
    confirmed_new = anti_join_seen(maybe, url_seen, keys)
    return definitely_new.unionByName(confirmed_new)


def cuckoo_prefilter_anti_join(
    candidates: DataFrame,
    url_seen: DataFrame,
    keys: list[str] = SEEN_KEY,
    expected_items: int | None = None,
    n_shards: int = 8,
    cuckoo_dir: str | None = None,
    partitioned: bool = False,
) -> DataFrame:
    """D4 at scale, cuckoo variant: identical prefilter-then-exact shape as
    ``bloom_prefilter_anti_join`` (false positives re-checked, false
    negatives impossible for inserted keys — overflow list guarantees it at
    ANY load), but the filter is a sharded cuckoo table
    (functions/cuckoo.py), which additionally supports RETRACTION: a key
    can be deleted from the seen filter without a rebuild
    (``NumpyCuckoo.delete_hashes``), e.g. re-opening a terminally-failed URL
    for recrawl. ``partitioned=True`` is the 10^10-key path (shard files on
    shared storage, probed shard-locally, no broadcast)."""
    from ..functions.cuckoo import (
        build_cuckoo,
        build_cuckoo_partitioned,
        with_cuckoo_probe,
        with_cuckoo_probe_partitioned,
    )

    key_expr = F.concat_ws("\x1f", *[F.col(k) for k in keys])
    n = expected_items or url_seen.count()
    if n == 0:
        return candidates
    if partitioned:
        import tempfile

        out_dir = cuckoo_dir or tempfile.mkdtemp(prefix="cuckoo_shards_")
        meta = build_cuckoo_partitioned(url_seen, key_expr, out_dir, n,
                                        n_shards=n_shards)
        cand = with_cuckoo_probe_partitioned(candidates, key_expr, meta,
                                             "__maybe")
    else:
        filters = build_cuckoo(url_seen, key_expr, n, n_shards=n_shards)
        cand = with_cuckoo_probe(candidates, key_expr, filters, "__maybe")
    definitely_new = cand.filter(~F.col("__maybe")).drop("__maybe")
    maybe = cand.filter(F.col("__maybe")).drop("__maybe")
    confirmed_new = anti_join_seen(maybe, url_seen, keys)
    return definitely_new.unionByName(confirmed_new)


def categorize_against_registry(candidates: DataFrame, registry: DataFrame,
                                keys: list[str] = SEEN_KEY) -> DataFrame:
    """D5: one-pass three-way split (cdx_deduplication_service.py:77-196):
    ``to_link`` (completed), ``already_processing`` (pending/in_progress),
    ``to_scrape`` (absent) — a single left join + CASE, never three scans."""
    reg = registry.select(*keys, F.col("scrape_status").alias("__reg_status"))
    joined = candidates.join(reg, keys, "left")
    return joined.withColumn(
        "dedup_category",
        F.when(F.col("__reg_status") == "completed", F.lit("to_link"))
        .when(F.col("__reg_status").isin("pending", "in_progress"),
              F.lit("already_processing"))
        .otherwise(F.lit("to_scrape")),
    ).drop("__reg_status")


def in_batch_dedup(frontier: DataFrame, keys: list[str] = SEEN_KEY) -> DataFrame:
    """D2/D8: first occurrence per key within a batch, deterministic order
    (project_id included in the tie-break when present — the lowest project
    id deterministically owns a multi-seed page)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *_tie_break_order(frontier)
    )
    return (
        frontier.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str = "url",
                  digest_col: str = "digest") -> DataFrame:
    """Incremental-crawl snapshot diff: classify every key across two crawl
    snapshots as ``added`` (new only), ``removed`` (old only), ``changed``
    (both, digest differs) or ``unchanged`` — the recrawl-planning
    primitive (what to refetch, what to retire) and the CDC shape of
    D6's url_seen table between two catalog versions.

    Scale shape: one full-outer sort-merge join on the key; when both
    snapshots are written bucketed on the key (the url_seen layout) the
    exchange disappears entirely. No window, no driver state. A
    null-digest row counts as a digest value (a failed fetch recorded in
    the snapshot), so added/removed classification stays total.

    Output: one row per key — ``old_digest``, ``new_digest``, ``change``.
    """
    o = old.select(F.col(key_col), F.col(digest_col).alias("old_digest"),
                   F.lit(True).alias("_in_old"))
    n = new.select(F.col(key_col), F.col(digest_col).alias("new_digest"),
                   F.lit(True).alias("_in_new"))
    j = o.join(n, key_col, "full_outer")
    return j.select(
        key_col, "old_digest", "new_digest",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
         .when(F.col("_in_new").isNull(), F.lit("removed"))
         .when(F.col("old_digest").eqNullSafe(F.col("new_digest")),
               F.lit("unchanged"))
         .otherwise(F.lit("changed")).alias("change"))


def surt_collapse(pages: DataFrame) -> DataFrame:
    """Canonical-URL collapse on the SURT key: URL variants that differ
    only in scheme, a leading www-label, case, query-parameter order, or
    fragment (functions/urls.surt_key canonicalization) fold to ONE
    representative — the earliest capture, ties broken by (url, ts14).
    The web-archive analog of D1's digest collapse, keyed on URL IDENTITY
    instead of content: 'http://www.example.com/p?b=2&a=1' and
    'https://example.com/p?a=1&b=2' are the same resource to a crawler
    even when their bytes differ across captures.

    One aggregation keyed on surt (min-struct argmin + counts share the
    shuffle). Returns (surt, url, ts14, n_variants, n_captures).
    """
    from ..functions.urls import surt_key

    keyed = pages.withColumn("__surt", surt_key(F.col("url")))
    best = F.min(F.struct("warc_ts", "url", "ts14")).alias("b")
    return (keyed.groupBy(F.col("__surt").alias("surt"))
            .agg(best,
                 F.countDistinct("url").alias("n_variants"),
                 F.count("*").alias("n_captures"))
            .select("surt", F.col("b.url").alias("url"),
                    F.col("b.ts14").alias("ts14"),
                    "n_variants", "n_captures"))


def latest_captures(pages: DataFrame, key_cols: tuple = ("url",),
                    ts_col: str = "ts14") -> DataFrame:
    """Newest capture per URL — the collapse behind a "current view"
    search index (every older snapshot stays queryable via time travel;
    the user-facing default shows one row per resource). One max-struct
    argmax aggregation sharing a single shuffle on the key; ties beyond
    the timestamp resolve by the remaining columns' struct order,
    deterministically. Returns the input schema, one row per key.

    The dual of ``surt_collapse`` (which keeps the EARLIEST capture as
    the canonical representative for dedup accounting); compose the two
    by feeding surt-keyed pages in with ``key_cols=("surt",)``."""
    keys = [F.col(c) for c in key_cols]
    rest = [c for c in pages.columns if c not in key_cols]
    ordered = [ts_col] + [c for c in rest if c != ts_col]
    agg = pages.groupBy(*keys).agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("_b"))
    return agg.select(*key_cols,
                      *[F.col(f"_b.{c}").alias(c) for c in ordered]) \
        .select(*pages.columns)
