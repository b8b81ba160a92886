"""Columnar analytics layer (SURVEY §2.1 S8/S10, §2.6 A1-A10).

The reference transforms crawl rows into a pre-derived analytics fact table
(data_transformers.py:97-412 → cdx_analytics.sql:5-75) and queries it with
DuckDB. Here the transform is ONE ``select`` (all derivations are column
expressions) and the queries are Spark SQL over the result — the whole
DuckDBService (duckdb_service.py:140-508) collapses into ``spark.sql``.

Every query in this module is also expressible as ANSI SQL, which is what
``__spark_entry__.oracle_sql`` hands the driver's DuckDB for the correctness
gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import url_depth, url_extension, url_host, url_path


def cdx_analytics_transform(frontier: DataFrame) -> DataFrame:
    """S8: frontier rows → analytics fact table with pre-derived columns
    (URL parts, date parts, categorical buckets — cdx_analytics.sql:5-75,
    data_transformers.py:161-300). One projection; partition the sink by
    capture_date (Iceberg ``days(warc_ts)``)."""
    u = F.col("url")
    length = F.col("length")
    return frontier.select(
        u.alias("url"),
        url_host(u).alias("url_domain"),
        url_path(u).alias("url_path"),
        url_depth(u).alias("url_depth"),
        url_extension(u).alias("file_extension"),
        F.to_date("warc_ts").alias("capture_date"),
        F.year("warc_ts").alias("capture_year"),
        F.month("warc_ts").alias("capture_month"),
        F.dayofweek("warc_ts").alias("capture_weekday"),
        F.hour("warc_ts").alias("capture_hour"),
        F.col("mime").alias("mime_type"),
        F.col("status").alias("status_code"),
        length.alias("content_length"),
        F.when(length < 1024, "tiny")
        .when(length < 10 * 1024, "small")
        .when(length < 100 * 1024, "medium")
        .when(length < 1024 * 1024, "large")
        .otherwise("huge").alias("content_size_category"),
        F.col("digest").alias("digest_hash"),
        (F.col("status") == 200).cast("int").alias("success_indicator"),
    )


def daily_stats(analytics: DataFrame) -> DataFrame:
    """A6 (cdx_analytics.sql:85-96): per capture_date rollup."""
    return (analytics.groupBy("capture_date")
            .agg(F.count(F.lit(1)).alias("total_records"),
                 F.countDistinct("url_domain").alias("unique_domains"),
                 F.round(F.avg("content_length"), 4).alias("avg_content_length"),
                 F.sum("success_indicator").alias("success_count"))
            .orderBy("capture_date"))


def status_percentiles(analytics: DataFrame) -> DataFrame:
    """A7: exact p50/p95 of content_length per status_code
    (sample_queries.sql:240 uses PERCENTILE_CONT)."""
    return (analytics.groupBy("status_code")
            .agg(F.round(F.expr("percentile(content_length, 0.5)"), 4)
                 .alias("p50_length"),
                 F.round(F.expr("percentile(content_length, 0.95)"), 4)
                 .alias("p95_length"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("status_code"))


def domain_profile(analytics: DataFrame) -> DataFrame:
    """A8-flavored rollup: per-domain counts + distinct sorted mime list
    (STRING_AGG(DISTINCT …) analog, sample_queries.sql:284)."""
    return (analytics.groupBy("url_domain")
            .agg(F.count(F.lit(1)).alias("n_captures"),
                 F.countDistinct("url").alias("n_urls"),
                 F.round(F.avg("url_depth"), 4).alias("avg_depth"),
                 F.array_join(F.array_sort(F.collect_set("mime_type")), ",")
                 .alias("mime_types"))
            .orderBy("url_domain"))


def size_distribution(analytics: DataFrame) -> DataFrame:
    """A9/W3: bucketed distribution with per-bucket percentage via a window
    over the grand total (sample_queries.sql:126-160)."""
    counts = analytics.groupBy("content_size_category").agg(
        F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return (counts
            .withColumn("pct", F.round(F.col("n") * 100.0 / total, 4))
            .orderBy("content_size_category"))


def facet_distribution(df: DataFrame, facet_cols: list[str]) -> DataFrame:
    """A10: multi-facet value counts in ONE pass — explode each row into
    (facet, value) pairs then hash-aggregate (Meilisearch facetDistribution
    analog, meilisearch_service.py:395-412; the reference's A10 facet rollup
    over analytics facts). One shuffle regardless of facet count — N separate
    groupBys would scan the fact N times."""
    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("facet"),
                 F.col(c).cast("string").alias("value"))
        for c in facet_cols
    ])).alias("fv"))
    return (pairs.groupBy(F.col("fv.facet").alias("facet"),
                          F.col("fv.value").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("facet", "value"))


def content_analytics_transform(pages: DataFrame) -> DataFrame:
    """S8-bis: extraction-metrics fact table
    (analytics/schemas/content_analytics.sql:5-75,
    data_transformers.py:97-412). One projection from crawl/extraction
    output; every derivation is a column expression. Sink partitioning:
    processing_date (Iceberg ``days(...)``).

    Expects frontier+extraction columns (url, host, warc_ts, mime, length,
    text word counts, quality, lang); callers map their column names first.
    """
    from ..functions.textops import text_quality, token_count_ws

    text = F.col("text")
    wc = token_count_ws(text).cast("int")
    return pages.select(
        F.col("url").alias("original_url"),
        F.col("host").alias("domain"),
        F.to_date("warc_ts").alias("processing_date"),
        F.year("warc_ts").alias("processing_year"),
        F.month("warc_ts").alias("processing_month"),
        F.col("mime").alias("mime_type"),
        F.when(F.col("mime") == "text/html", "html")
        .when(F.col("mime") == "application/pdf", "pdf")
        .otherwise("other").alias("content_category"),
        F.col("length").alias("original_size_bytes"),
        # extraction method/status mirror the engine cascade: html extracts
        # via the pinned article path; non-html mimes are routed unsupported
        F.when(F.col("mime") == "text/html", "article")
        .otherwise("unsupported_mime").alias("extraction_method"),
        F.when((F.col("mime") == "text/html") & (wc > 0), "success")
        .otherwise("failed").alias("extraction_status"),
        F.length(text).cast("int").alias("text_content_length"),
        wc.alias("word_count"),
        F.size(F.split(text, r"\n\n")).cast("int").alias("paragraph_count"),
        F.col("lang").alias("language"),
        text_quality(text).alias("content_quality_score"),
        (wc > 50).alias("has_meaningful_content"),
    )


def extraction_method_stats(content_fact: DataFrame) -> DataFrame:
    """Extraction-method effectiveness rollup
    (sample_queries.sql:110-123): per (method, status) attempt counts,
    average quality/word count, meaningful-content count. Hash agg with
    map-side partials."""
    # decimal-cast the double avg: float summation order differs between
    # engines/partitionings; decimal aggregation is exact and deterministic
    return (content_fact.groupBy("extraction_method", "extraction_status")
            .agg(F.count(F.lit(1)).alias("total_attempts"),
                 F.round(F.avg(F.col("content_quality_score")
                               .cast("decimal(18,6)")).cast("double"), 3)
                 .alias("avg_quality"),
                 F.round(F.avg("word_count"), 1).alias("avg_word_count"),
                 F.sum(F.when(F.col("has_meaningful_content"), 1)
                       .otherwise(0)).alias("meaningful_content_count"))
            .orderBy("extraction_method", "extraction_status"))


def domain_similarity_pairs(pages: DataFrame, min_pages: int = 20,
                            top_n: int = 20) -> DataFrame:
    """J4: domain-profile theta self-join (sample_queries.sql:278-309):
    per-domain content profile → CROSS JOIN with ``d1.host < d2.host`` →
    similarity score (lower = more similar) → top-N pairs.

    Scale: the HAVING >= min_pages prunes the profile table to qualifying
    domains BEFORE the quadratic join — at web scale the profile table is
    ~10^5-10^6 rows (domains, not pages), so the theta join is over domain
    cardinality and Spark broadcasts the smaller side."""
    from ..functions.textops import token_count_ws

    prof = (pages
            .groupBy(F.col("host").alias("domain"))
            .agg(F.avg(token_count_ws(F.col("text")))
                 .alias("avg_word_count"),
                 F.count(F.lit(1)).alias("total_pages"))
            .filter(F.col("total_pages") >= min_pages))
    d1 = prof.select(F.col("domain").alias("domain_1"),
                     F.col("avg_word_count").alias("w1"),
                     F.col("total_pages").alias("n1"))
    d2 = prof.select(F.col("domain").alias("domain_2"),
                     F.col("avg_word_count").alias("w2"),
                     F.col("total_pages").alias("n2"))
    pairs = d1.crossJoin(d2).filter(F.col("domain_1") < F.col("domain_2"))
    sim = F.abs(F.col("w1") - F.col("w2")) / 1000.0
    return (pairs
            .select("domain_1", "domain_2",
                    F.round(F.abs(F.col("w1") - F.col("w2")), 6)
                    .alias("word_count_diff"),
                    F.round(sim, 6).alias("similarity_score"))
            .orderBy(F.asc("similarity_score"), F.asc("domain_1"),
                     F.asc("domain_2"))
            .limit(top_n))


def project_monthly_rollup(project_fact: DataFrame) -> DataFrame:
    """Project/user monthly aggregation (project_analytics.sql:5-40,
    sample_queries.sql:179-210): per (project, month) page counts, success
    rate, distinct domains, average quality proxy."""
    return (project_fact
            .groupBy("project_id",
                     F.date_trunc("month", F.col("warc_ts"))
                     .cast("date").alias("analytics_month"))
            .agg(F.count(F.lit(1)).alias("total_pages_processed"),
                 F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
                 .alias("success_pages"),
                 F.countDistinct("host").alias("active_domains"),
                 F.round(F.avg(F.length("text")), 2)
                 .alias("avg_content_length"))
            .orderBy("project_id", "analytics_month"))


def url_tree_stats(pages: DataFrame, max_depth: int = 3) -> DataFrame:
    """Hierarchical path-prefix rollup: for every host and every path
    prefix up to ``max_depth`` segments, the URL/capture/content counts —
    the "which sections of this site are we crawling, and how duplicated
    are they" view crawl operators read daily (the reference surfaces
    only flat per-domain counts, data_transformers.py aggregates).

    One Generate (explode of ≤ max_depth prefixes per row — bounded
    fan-out, not corpus-squaring) + one aggregation keyed on
    (host, depth, prefix); distinct counts ride the same shuffle as
    count_distinct partial aggregates. Returns
    (host, depth, prefix, n_urls, n_captures, n_digests).
    """
    segs = F.filter(
        F.split(F.element_at(F.split(F.col("path"), r"\?"), 1), "/"),
        lambda s: s != F.lit(""))
    # guard the zero-segment root path: sequence(1, 0) in Spark yields a
    # DESCENDING [1, 0], not an empty array — the root ('/') contributes
    # no tree rows, matching the relational oracle's d >= 1 join
    depths = F.when(
        F.size(segs) >= 1,
        F.sequence(F.lit(1), F.least(F.size(segs), F.lit(max_depth)))
    ).otherwise(F.array().cast("array<int>"))
    prefixes = F.transform(
        depths,
        lambda i: F.struct(
            i.cast("int").alias("depth"),
            F.concat(F.lit("/"),
                     F.array_join(F.slice(segs, 1, i), "/"),
                     F.lit("/")).alias("prefix")))
    exploded = (pages
                .select("host", "url", "digest",
                        F.explode(prefixes).alias("p"))
                .select("host", F.col("p.depth").alias("depth"),
                        F.col("p.prefix").alias("prefix"),
                        "url", "digest"))
    return (exploded
            .groupBy("host", "depth", "prefix")
            .agg(F.countDistinct("url").alias("n_urls"),
                 F.count("*").alias("n_captures"),
                 F.countDistinct("digest").alias("n_digests")))


def log2_quantile_sketch(df: DataFrame, col: str,
                         qs: tuple = (50, 90, 99)) -> DataFrame:
    """Mergeable deterministic quantile SKETCH over a non-negative long
    column: power-of-two histogram bins (bin = bit length of the value,
    0 for value 0), cumulative counts, quantile estimate = the upper
    bound of the first bin whose cumulative count reaches ceil(q%·n).

    This is the at-scale complement to ``status_percentiles`` (exact
    percentile_approx): the sketch state is ≤ 65 longs per partition —
    map-side combinable, mergeable across shards/days by plain addition,
    and INTEGER-DETERMINISTIC (bit-identical across partitionings,
    engines, and runs; Spark's approx_percentile sketch is neither
    portable nor oracle-checkable). Relative error is bounded by the
    bin width: estimate/true ∈ (1, 2] — the classic HdrHistogram/DDSketch
    trade at γ=2; finer γ = more bins, same shape.

    Returns (q int, bin int, upper_bound long, cum_count long, n long).
    """
    return quantiles_from_histogram(log2_histogram(df, col), qs)


def log2_histogram(df: DataFrame, col: str) -> DataFrame:
    """The sketch STATE: (bin, cnt) with bin = bit length of the value
    (0 for ≤0). Histograms from different shards/days/streams merge by
    ``unionByName → groupBy(bin).sum(cnt)`` — plain addition, the
    property that makes the sketch distributable."""
    x = F.col(col).cast("long")
    b = F.when(x <= 0, F.lit(0)).otherwise(F.length(F.bin(x))).cast("int")
    return (df.select(b.alias("bin"))
            .groupBy("bin").agg(F.count("*").alias("cnt")))


def quantiles_from_histogram(hist: DataFrame,
                             qs: tuple = (50, 90, 99)) -> DataFrame:
    """Quantile estimates from a (bin, cnt) sketch state.

    ≤ 65 rows from here on: the window is a formality, not a shuffle
    of data (single partition of a 65-row frame)."""
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (hist
           .withColumn("cum_count", F.sum("cnt").over(w))
           .join(F.broadcast(hist.agg(F.sum("cnt").alias("n"))))
           .select("bin", "cum_count", "n"))
    targets = F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q")
    t = cum.select(targets, "bin", "cum_count", "n").filter(
        F.col("cum_count") * 100 >= F.col("q") * F.col("n"))
    best = (t.groupBy("q")
            .agg(F.min("bin").alias("bin")))
    return (best.join(cum, "bin")
            .select("q", "bin",
                    F.when(F.col("bin") == 0, F.lit(0))
                    .otherwise(F.expr(
                        "shiftleft(CAST(1 AS BIGINT), bin) - 1"))
                    .cast("long").alias("upper_bound"),
                    "cum_count", "n"))


# --------------------------------------------------------------------------
# HyperLogLog distinct sketch (deterministic, mergeable, cross-engine)
# --------------------------------------------------------------------------
#
# The third mergeable sketch next to log2_histogram (quantiles) and the
# Bloom/Cuckoo seen filters (membership): approximate COUNT DISTINCT whose
# state is ≤ 2^p small ints per group — map-side combinable, mergeable
# across shards/days/streams by per-bucket MAX, and (unlike Spark's
# approx_count_distinct, whose HLL++ state is neither portable nor
# inspectable) built from md5 so the registers AND the estimate are
# bit-identical on any engine with md5/strpos/regexp_replace — the DuckDB
# oracle replays it exactly. Flajolet et al. 2007 semantics: bucket = first
# p bits of the hash, rho = 1 + leading zeros of the next 56 bits (capped
# 57), estimate = alpha_m * m^2 / sum(2^-register) with the small-range
# linear-counting correction; the large-range correction targets 2^32-ball
# hash collisions and does not apply to a 56-bit rho-field (disclosed).
# Standard error ≈ 1.04/sqrt(m) — 6.5% at the default p=8; raise p for the
# 10^10-URL frontier (p=12 → 1.6%, 4096 small ints; p=16 → 0.4% — p must
# be a multiple of 4: buckets come from whole hex nibbles).

_HEXDIGITS = "0123456789abcdef"


def _hll_check_p(p: int) -> int:
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")
    return p // 4


def hll_registers(df: DataFrame, col: str, keys: tuple = (),
                  p: int = 8) -> DataFrame:
    """Sketch STATE: (*keys, bucket, register) with register = max rho seen
    in the bucket — ≤ 2^p rows per group (absent buckets ≡ register 0).
    One projection + one max-agg; states merge by per-bucket MAX."""
    k = _hll_check_p(p)
    # COUNT(DISTINCT) semantics ignore NULLs — so must the sketch (a NULL
    # value would otherwise produce a phantom NULL bucket that biases the
    # estimate upward by shrinking the empty-bucket correction)
    df = df.filter(F.col(col).isNotNull())
    hexcol = F.md5(F.col(col).cast("string"))
    bucket = None
    for i in range(1, k + 1):
        d = (F.expr(f"locate(substring(_h, {i}, 1), '{_HEXDIGITS}')") - 1)
        term = d * (16 ** (k - i))
        bucket = term if bucket is None else bucket + term
    rho = F.expr(f"""
        CASE WHEN regexp_replace(substring(_h, {k + 1}, 14), '^0+', '') = ''
             THEN 57
             ELSE (14 - length(regexp_replace(substring(_h, {k + 1}, 14),
                                              '^0+', ''))) * 4
                  + CASE WHEN locate(substring(regexp_replace(
                                substring(_h, {k + 1}, 14), '^0+', ''),
                                1, 1), '{_HEXDIGITS}') - 1 >= 8 THEN 0
                         WHEN locate(substring(regexp_replace(
                                substring(_h, {k + 1}, 14), '^0+', ''),
                                1, 1), '{_HEXDIGITS}') - 1 >= 4 THEN 1
                         WHEN locate(substring(regexp_replace(
                                substring(_h, {k + 1}, 14), '^0+', ''),
                                1, 1), '{_HEXDIGITS}') - 1 >= 2 THEN 2
                         ELSE 3 END + 1 END""")
    return (df.select(*keys, hexcol.alias("_h"))
            .select(*keys, bucket.cast("int").alias("bucket"),
                    rho.cast("int").alias("rho"))
            .groupBy(*keys, "bucket")
            .agg(F.max("rho").alias("register")))


def hll_estimate(regs: DataFrame, keys: tuple = (),
                 p: int = 8) -> DataFrame:
    """(*keys, est_distinct) from a register table. The harmonic-mean sum
    is computed in EXACT integers — Σ 2^(57-register) as decimal, absent
    buckets contributing 2^57 each — so the one double division at the end
    sees identical operands on every engine/partitioning. Empty input →
    est_distinct 0 via the linear-counting branch."""
    _hll_check_p(p)
    m = 1 << p
    agg = regs.groupBy(*keys).agg(
        F.count("*").alias("_nb"),
        F.sum(F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - register)"
                     " AS DECIMAL(20, 0))").cast("decimal(38,0)"))
        .alias("_s"))
    est = F.expr(f"""
        CASE WHEN 0.7213 / (1 + 1.079 / {m}) * {m} * {m} * power(2, 57)
                  / CAST(_st AS DOUBLE) <= 2.5 * {m} AND _v > 0
             THEN {m} * ln({m} / CAST(_v AS DOUBLE))
             ELSE 0.7213 / (1 + 1.079 / {m}) * {m} * {m} * power(2, 57)
                  / CAST(_st AS DOUBLE) END""")
    return (agg.select(
        *keys,
        (F.coalesce(F.col("_s"), F.lit(0).cast("decimal(38,0)"))
         + (F.lit(m) - F.col("_nb")).cast("decimal(38,0)")
         * F.lit(1 << 57).cast("decimal(38,0)")).alias("_st"),
        (F.lit(m) - F.col("_nb")).alias("_v"))
        .select(*keys, F.floor(est + F.lit(0.5)).cast("long")
                .alias("est_distinct")))


def hll_distinct(df: DataFrame, col: str, keys: tuple = (),
                 p: int = 8) -> DataFrame:
    """Convenience: per-group approximate COUNT(DISTINCT col) via the
    deterministic HLL sketch — ``hll_estimate(hll_registers(df))``."""
    return hll_estimate(hll_registers(df, col, keys, p), keys, p)


# --------------------------------------------------------------------------
# Count-min sketch (deterministic, mergeable frequency estimates)
# --------------------------------------------------------------------------

def _cms_coords(col: Column, d: int, w: int):
    """d (row, bucket) pairs for a key: bucket_i = value of the first 3 hex
    chars of md5(i || ':' || key) mod w — salt-per-row md5, identical on
    any engine with md5 + string ops (the DuckDB oracle replays it with
    strpos digit arithmetic)."""
    if not 1 <= d <= 8 or not 2 <= w <= 4096:
        raise ValueError(f"need 1<=d<=8 and 2<=w<=4096, got d={d} w={w}")
    pairs = []
    for i in range(d):
        h = F.md5(F.concat_ws(":", F.lit(str(i)), col.cast("string")))
        b = (F.conv(F.substring(h, 1, 3), 16, 10).cast("int") % w)
        pairs.append(F.struct(F.lit(i).alias("row"), b.alias("col_bucket")))
    return F.array(*pairs)


def cms_build(df: DataFrame, col: str, d: int = 4,
              w: int = 1024) -> DataFrame:
    """Sketch STATE: (row, col_bucket, cnt) — ≤ d·w longs however large
    the input, map-side combinable (the explode is a bounded d-wide
    fan-out, not corpus-shaped growth). States merge by cell-wise
    addition; point-estimate with ``cms_query``
    (min over the d cells — overestimate-only, ε·N error bound with
    probability 1−(1/2)^d at w=2e/ε)."""
    return (df.select(F.explode(_cms_coords(F.col(col), d, w))
                      .alias("_c"))
            .groupBy(F.col("_c.row").alias("row"),
                     F.col("_c.col_bucket").alias("col_bucket"))
            .agg(F.count("*").alias("cnt")))


def cms_query(sketch: DataFrame, keys: DataFrame, col: str, d: int = 4,
              w: int = 1024) -> DataFrame:
    """(key, est) for each distinct key in ``keys``: min over the key's d
    cells (absent cell ≡ 0). The sketch is ≤ d·w rows — always broadcast;
    the keys side never shuffles."""
    coords = (keys.select(F.col(col)).distinct()
              .select(col, F.explode(_cms_coords(F.col(col), d, w))
                      .alias("_c"))
              .select(col, F.col("_c.row").alias("row"),
                      F.col("_c.col_bucket").alias("col_bucket")))
    return (coords.join(F.broadcast(sketch), ["row", "col_bucket"], "left")
            .groupBy(col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("est")))
