"""CDX-index scan analog (SURVEY §2.1 S1-S5): the corpus table IS the index.

The reference pages through a remote CDX API with server-side filters
(``statuscode:200``, mime whitelist, date range, domain match, field list —
wayback_machine.py:741-907). Over an Iceberg/parquet corpus those become
pushed-down predicates + column pruning on one declarative scan; pagination
disappears (partitions are the pages).

Seed matching (exact/prefix/domain/regex, project.py:34-39) compiles the
seed list — driver-side config data, thousands of rows at most — into
LITERAL column predicates: one codegen-friendly boolean per seed, with
project attribution via an array-explode. A broadcast join with a
column-valued regex would fall back to BroadcastNestedLoopJoin and compile
the regex per row (measured 10-20× slower); literal predicates stay inside
whole-stage codegen with regexes compiled once.

The static-asset pre-filter (wayback_machine.py:389-532) is likewise three
single-compile alternation regexes instead of ~90 chained predicates.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import config as C
from ..functions.urls import ts14, with_url_parts

# frontier columns every downstream operator relies on (the CDX `fl=` list,
# wayback_machine.py:779, plus derived url parts)
FRONTIER_COLUMNS = [
    "url", "warc_ts", "ts14", "host", "path", "url_canon", "mime", "status",
    "digest", "length", "project_id",
]


def read_pages(spark: SparkSession, path: str,
               schema: StructType | None = None) -> DataFrame:
    """The Common-Crawl-style corpus (input_hint shape + frontier columns):
    a parquet directory. ``schema``, when known from an earlier read, skips
    the parquet schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _seed_condition(seed: Row, url: Column, host: Column,
                    warc_ts: Column) -> Column:
    """Literal match predicate for ONE seed row
    (project.py:34-39; common_crawl_direct_service.py:209-231)."""
    mt = seed["match_type"]
    domain = seed["domain_name"]
    if mt == "exact":
        cond = host == F.lit(domain)
    elif mt == "domain":
        cond = (host == F.lit(domain)) | host.endswith("." + domain)
    elif mt == "prefix":
        prefix = domain + (seed["url_path"] or "")
        cond = F.regexp_replace(url, r"^https?://", "").startswith(prefix)
    elif mt == "regex":
        cond = url.rlike(domain)
    else:
        cond = F.lit(False)
    if seed["from_date"] is not None:
        cond = cond & (F.to_date(warc_ts) >= F.lit(seed["from_date"]))
    if seed["to_date"] is not None:
        cond = cond & (F.to_date(warc_ts) <= F.lit(seed["to_date"]))
    return cond


_EXT_ALT = "|".join(re.escape(e) for e in C.STATIC_ASSET_EXTENSIONS)
_STATIC_EXT_RE = f"(?:{_EXT_ALT})$"
_MIME_RE = ("^(?:" + "|".join(re.escape(p) for p in C.STATIC_ASSET_MIME_PREFIXES)
            + ")|^(?:" + "|".join(re.escape(m) for m in C.STATIC_ASSET_MIME_EXACT)
            + ")$")
_URL_PAT_RE = "|".join(re.escape(p) for p in C.STATIC_ASSET_URL_PATTERNS)


def static_asset_condition(url: Column, path: Column, mime: Column) -> Column:
    """F1 scan-level pre-filter (wayback_machine.py:389-532): True ⇒ drop.
    Three alternation regexes, each compiled once inside codegen."""
    return (F.lower(path).rlike(_STATIC_EXT_RE)
            | mime.rlike(_MIME_RE)
            | F.lower(url).rlike(_URL_PAT_RE))


def union_with_fallback(primary: DataFrame, fallback: DataFrame,
                        keys: list[str]) -> DataFrame:
    """O5: hybrid-source union (wayback + Common Crawl,
    archive_service_router.py:920-1010): primary rows win; fallback
    contributes only keys the primary lacks (anti-join), so a snapshot
    present in both sources is attributed to the primary exactly once.
    Columns align by name; fallback-only columns null-fill."""
    extra = fallback.join(primary.select(*keys), keys, "left_anti")
    return primary.unionByName(extra, allowMissingColumns=True)


def seed_rows(seeds: DataFrame | list[Row]) -> list[Row]:
    """The seed list as driver rows: a DataFrame is collected (one job),
    rows pass through."""
    return seeds.collect() if isinstance(seeds, DataFrame) else list(seeds)


def discover(
    pages: DataFrame,
    seeds: DataFrame | list[Row],
    *,
    drop_static_assets: bool = True,
    allowed_mime: list[str] | None = None,
    allowed_status: int = C.CDX_ALLOWED_STATUS,
    include_payload: bool = False,
) -> DataFrame:
    """S1-S5: corpus scan × seed list → candidate frontier.

    ``seeds`` columns: project_id int, domain_name string, match_type string,
    url_path string, from_date date, to_date date — a DataFrame, or its rows
    already collected (``CrawlJob.seeds``). The seed list is config-scale
    data, compiled to literal predicates; a row matching k
    seeds yields k frontier rows (one per project), matching the reference's
    per-project fan-out. Status/mime filters push into the scan.

    ``include_payload=False`` (default) keeps the frontier METADATA-ONLY:
    html/text never enter the dedup/filter/schedule shuffles (at WARC scale
    payloads are 50-100 KB/row — shuffling them through every window would
    dominate the job). The fetch stage joins payloads back for the scheduled
    subset only (CrawlJob.run_round).
    """
    allowed_mime = allowed_mime or C.CDX_ALLOWED_MIME
    df = pages
    if "host" not in df.columns or "url_canon" not in df.columns:
        df = with_url_parts(df)
    if "ts14" not in df.columns:
        df = df.withColumn("ts14", ts14(F.col("warc_ts")))

    # server-side CDX filters (wayback_machine.py:766-781) — pushed down
    df = df.filter(F.col("status") == allowed_status)
    df = df.filter(F.col("mime").isin(allowed_mime))

    rows = seed_rows(seeds)
    if not rows:
        return df.limit(0).withColumn("project_id", F.lit(None).cast("int"))
    url, host, wts = F.col("url"), F.col("host"), F.col("warc_ts")
    per_seed = [
        F.when(_seed_condition(s, url, host, wts),
               F.lit(s["project_id"]).cast("int"))
        for s in rows
    ]
    matched = df.withColumn(
        "project_id",
        F.explode(F.filter(F.array(*per_seed), lambda p: p.isNotNull())),
    )

    if drop_static_assets:
        matched = matched.filter(
            ~static_asset_condition(F.col("url"), F.col("path"), F.col("mime"))
        )
    extras = ("html", "text", "lang", "title") if include_payload else ("lang",)
    keep = [c for c in matched.columns
            if c in FRONTIER_COLUMNS or c in extras]
    return matched.select(*keep)


def cdxj_records(pages: DataFrame) -> DataFrame:
    """CDXJ index records (the pywb / OpenWayback / Common Crawl cdx-index
    line format): ``<surt_key> <ts14> <json>`` with the JSON block carrying
    the classic CDX fields. The reference consumes exactly this index shape
    through the CDX API (wayback_machine.py:741-907); emitting it makes the
    engine's corpus a drop-in index source for any wayback-ecosystem tool.

    Returns (surt, ts14, cdxj_line) SORTED by (surt, ts14) — CDXJ files are
    merge-sorted on the key so range scans (one host = one contiguous key
    run, because the SURT host is comma-reversed) stay sequential. One
    range-partitioned sort, no other shuffle; at 100 TB write with
    ``.write.partitionBy`` on the surt prefix or sortWithinPartitions
    after a repartitionByRange on surt.
    """
    from ..functions.urls import surt_key

    line = F.concat(
        F.col("surt"), F.lit(" "), F.col("ts14"), F.lit(" "),
        F.to_json(F.struct(
            F.col("url"),
            F.col("mime"),
            F.col("status").cast("string").alias("status"),
            F.col("digest"),
            F.col("length").cast("string").alias("length"),
        )))
    out = (pages
           .withColumn("surt", surt_key(F.col("url")))
           .select("surt", "ts14", line.alias("cdxj_line")))
    return out.orderBy("surt", "ts14")
