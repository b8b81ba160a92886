"""Analytics transform + rollups over the oracle-parity CDX corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.operators import analytics as A

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def fact(spark):
    return A.cdx_analytics_transform(cdx_pages_view(spark, SF_DIR)).cache()


def test_transform_shape(spark, fact):
    row = fact.first()
    assert row["url_domain"] and row["capture_date"] is not None
    cats = {r["content_size_category"] for r in
            fact.select("content_size_category").distinct().collect()}
    assert cats.issubset({"tiny", "small", "medium", "large", "huge"})
    bad = fact.filter(
        (F.col("status_code") == 200) & (F.col("success_indicator") != 1)
    ).count()
    assert bad == 0


def test_daily_stats(spark, fact):
    ds = A.daily_stats(fact)
    assert ds.agg(F.sum("total_records")).first()[0] == fact.count()
    r = ds.first()
    assert r["unique_domains"] >= 1 and r["avg_content_length"] > 0


def test_percentiles_monotone(spark, fact):
    for r in A.status_percentiles(fact).collect():
        assert r["p50_length"] <= r["p95_length"]


def test_domain_profile_and_distribution(spark, fact):
    dp = A.domain_profile(fact)
    mega = dp.filter("url_domain = 'mega.example.com'").first()
    assert mega["n_captures"] > 0 and "text/html" in mega["mime_types"]
    dist = A.size_distribution(fact)
    assert abs(dist.agg(F.sum("pct")).first()[0] - 100.0) < 0.01


def test_facet_distribution_single_pass(spark, fact):
    from chrono_scraper_spark.operators.analytics import facet_distribution

    out = facet_distribution(fact, ["mime_type", "status_code"])
    rows = {(r["facet"], r["value"]): r["n"] for r in out.collect()}
    mime_total = sum(n for (f, _), n in rows.items() if f == "mime_type")
    status_total = sum(n for (f, _), n in rows.items() if f == "status_code")
    assert mime_total == status_total == fact.count()
    # one pass: a single hash shuffle for the facet agg (plus the orderBy's
    # range exchange; broadcast exchanges from the corpus CTE don't count)
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])  # AQE prints the plan twice
    assert plan.count("Exchange hashpartitioning") == 1


def test_content_analytics_and_extraction_stats(spark):
    from chrono_scraper_spark.corpus import cdx_pages_view
    from chrono_scraper_spark.operators.analytics import (
        content_analytics_transform,
        extraction_method_stats,
    )

    pages = cdx_pages_view(spark, "/root/testdata/sf0.001")
    fact = content_analytics_transform(pages)
    assert fact.filter(F.col("extraction_method").isNull()).count() == 0
    stats = {(r["extraction_method"], r["extraction_status"]): r
             for r in extraction_method_stats(fact).collect()}
    assert ("article", "success") in stats
    assert all(0.0 <= r["avg_quality"] <= 1.0 for r in stats.values())


def test_url_tree_stats(spark):
    from chrono_scraper_spark.operators.analytics import url_tree_stats

    rows = [
        ("h", "https://h/a/b/c", "d1", "/a/b/c"),
        ("h", "https://h/a/b/c", "d2", "/a/b/c"),    # 2nd capture, new dg
        ("h", "https://h/a/x", "d1", "/a/x"),        # shares /a/, dup dg
        ("h", "https://h/q?y=1", "d3", "/q?y=1"),    # query stripped
        ("h", "https://h/", "d4", "/"),              # no segments: no rows
    ]
    df = spark.createDataFrame(
        [(h, u, d, p) for h, u, d, p in rows],
        "host string, url string, digest string, path string")
    got = {(r["depth"], r["prefix"]): (r["n_urls"], r["n_captures"],
                                       r["n_digests"])
           for r in url_tree_stats(df, max_depth=2).collect()}
    assert got[(1, "/a/")] == (2, 3, 2)   # 2 urls, 3 captures, d1+d2
    assert got[(2, "/a/b/")] == (1, 2, 2)
    assert got[(1, "/q/")] == (1, 1, 1)   # '?y=1' not part of the tree
    assert got[(2, "/a/x/")] == (1, 1, 1)
    assert (3, "/a/b/c/") not in got      # depth capped at max_depth=2
    # the zero-segment root path contributes no rows (and the Spark
    # sequence(1,0)-descending trap must not fabricate '//' prefixes)
    assert not any(p == "//" for _, p in got)


def test_url_tree_stats_bounded_fanout_plan(spark):
    """One Generate, one aggregate — the explode is bounded by max_depth,
    not by corpus size."""
    from chrono_scraper_spark.operators.analytics import url_tree_stats

    df = spark.createDataFrame([("h", "u", "d", "/a/b")],
                               "host string, url string, digest string, "
                               "path string")
    plan = url_tree_stats(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Generate") == 1


def test_log2_quantile_sketch(spark):
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.analytics import (
        log2_quantile_sketch,
    )

    # 100 values 1..100: p50 -> first bin with cum >= 50. bins:
    # 1->[1], 2->[2,3], 3->[4..7], 4->[8..15], 5->[16..31], 6->[32..63],
    # 7->[64..100]; cum = 1,3,7,15,31,63,100
    df = spark.range(1, 101).select(F.col("id").alias("v"))
    got = {r["q"]: (r["bin"], r["upper_bound"], r["cum_count"], r["n"])
           for r in log2_quantile_sketch(df, "v", (50, 90, 99)).collect()}
    assert got[50] == (6, 63, 63, 100)   # true p50=50, est 63 (< 2x)
    assert got[90] == (7, 127, 100, 100)
    assert got[99] == (7, 127, 100, 100)
    for q, (_, ub, _, _) in got.items():
        true = q  # p-th percentile of 1..100 is ~q
        assert true <= ub < 2 * max(true, 1) + 64  # gamma=2 bound (loose)


def test_log2_quantile_sketch_zero_and_determinism(spark):
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.analytics import (
        log2_quantile_sketch,
    )

    rows = [(0,)] * 10 + [(5,)] * 2
    df1 = spark.createDataFrame(rows, "v long").coalesce(1)
    df2 = spark.createDataFrame(rows, "v long").repartition(8)
    r1 = {tuple(r) for r in log2_quantile_sketch(df1, "v").collect()}
    r2 = {tuple(r) for r in log2_quantile_sketch(df2, "v").collect()}
    assert r1 == r2
    got = {r["q"]: (r["bin"], r["upper_bound"])
           for r in log2_quantile_sketch(df1, "v", (50,)).collect()}
    assert got[50] == (0, 0)  # ten zeros dominate the median


def test_hll_registers_match_python_twin(spark):
    """Every (bucket, register) pair must equal the bit-level reference
    computation — the sketch's cross-engine determinism claim."""
    import hashlib

    vals = [f"u{i}" for i in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {(r["bucket"], r["register"])
           for r in A.hll_registers(df, "v").collect()}
    regs: dict = {}
    for v in vals:
        h = hashlib.md5(v.encode()).hexdigest()
        b = int(h[:2], 16)
        rem = int(h[2:16], 16)
        rho = 57 if rem == 0 else 56 - rem.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rho)
    assert got == set(regs.items())


def test_hll_estimate_accuracy_and_small_range(spark):
    big = spark.range(20000).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    est = A.hll_distinct(big, "v").collect()[0]["est_distinct"]
    # standard error 1.04/sqrt(256) ~ 6.5% at p=8; 3 sigma bound
    assert abs(est - 20000) / 20000 < 0.20
    # linear-counting regime (n << m): near-exact
    small = spark.range(50).select(
        F.concat(F.lit("x"), F.col("id")).alias("v"))
    s = A.hll_distinct(small, "v").collect()[0]["est_distinct"]
    assert abs(s - 50) <= 3
    # duplicates must not move the estimate (distinct semantics)
    dup = big.unionByName(big)
    assert A.hll_distinct(dup, "v").collect()[0]["est_distinct"] == est


def test_hll_rejects_bad_p(spark):
    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError):
        A.hll_registers(df, "v", p=7)


def test_cms_overestimate_only_and_exact_when_sparse(spark):
    rows = [(f"h{k}",) for k in range(1, 61) for _ in range(k)]
    df = spark.createDataFrame(rows, "host string")
    true = {f"h{k}": k for k in range(1, 61)}
    # w=1024 >> 60 keys: collision-free, estimates exact
    est = {r["host"]: r["est"]
           for r in A.cms_query(A.cms_build(df, "host"),
                                df, "host").collect()}
    assert est == true
    # w=16 forces collisions: still NEVER underestimates
    sk = A.cms_build(df, "host", d=4, w=16)
    est16 = {r["host"]: r["est"]
             for r in A.cms_query(sk, df, "host", d=4, w=16).collect()}
    assert all(est16[h] >= true[h] for h in true)
    # absent key reads 0 (all its cells may be empty) or a collision
    # overcount, never negative / null
    ghost = spark.createDataFrame([("nope",)], "host string")
    g = A.cms_query(A.cms_build(df, "host"), ghost, "host").collect()
    assert g[0]["est"] == 0


def test_cms_rejects_bad_params(spark):
    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError):
        A.cms_build(df, "v", d=0)
    with pytest.raises(ValueError):
        A.cms_build(df, "v", w=8192)


def test_hll_ignores_nulls(spark):
    """COUNT(DISTINCT) semantics: NULL values contribute nothing (no
    phantom bucket, no estimate bias)."""
    vals = spark.createDataFrame(
        [(f"u{i}",) for i in range(200)] + [(None,)] * 50, "v string")
    clean = vals.filter(F.col("v").isNotNull())
    assert ({tuple(r) for r in A.hll_registers(vals, "v").collect()}
            == {tuple(r) for r in A.hll_registers(clean, "v").collect()})
