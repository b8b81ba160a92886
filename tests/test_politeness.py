"""Politeness scheduler: budgets, global order determinism, skew salting,
robots hook."""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.functions.urls import ts14, with_url_parts
from chrono_scraper_spark.operators.filters import with_filter_decision
from chrono_scraper_spark.operators import politeness as P


def _frontier(spark, pages):
    df = with_url_parts(pages.drop("host", "path"))
    df = df.withColumn("ts14", ts14(F.col("warc_ts")))
    return with_filter_decision(df)


def test_budget_mapping():
    assert P.host_budgets(0, rps=1.0, burst=5, round_seconds=60) == 65
    assert P.host_budgets(3, rps=1.0, burst=5, round_seconds=60) == 60
    assert P.host_budgets(0, rps=0.25, burst=2, round_seconds=4) == 3


def test_schedule_round_budget_respected(spark, pages):
    fr = _frontier(spark, pages)
    out = P.schedule_round(fr, round_idx=0, rps=0.05, burst=1, round_seconds=60)
    per_host = (out.filter("sched_status = 'scheduled'")
                .groupBy("host").count().collect())
    assert per_host and all(r["count"] <= 4 for r in per_host)
    # scheduled rows are exactly the top-ranked per host
    bad = out.filter(
        (F.col("sched_status") == "deferred") & (F.col("host_rank") <= 4)
    ).count()
    assert bad == 0


def test_schedule_round_overrides(spark, pages):
    fr = _frontier(spark, pages)
    ov = spark.createDataFrame([("mega.example.com", 1)], "host string, budget int")
    out = P.schedule_round(fr, round_idx=1, rps=10.0, round_seconds=60,
                           budget_overrides=ov)
    mega = out.filter("host = 'mega.example.com' AND sched_status='scheduled'")
    assert mega.count() == 1


def test_global_order_deterministic_and_dense(spark, pages):
    fr = _frontier(spark, pages)
    o1 = P.with_global_order(fr).select("seq", "url", "ts14").collect()
    o2 = P.with_global_order(fr.repartition(7)).select("seq", "url", "ts14").collect()
    m1 = {(r["url"], r["ts14"]): r["seq"] for r in o1}
    m2 = {(r["url"], r["ts14"]): r["seq"] for r in o2}
    assert m1 == m2  # partitioning-invariant
    seqs = sorted(m1.values())
    assert seqs == list(range(1, len(seqs) + 1))  # dense 1..N
    # order law: seq ascending ⇒ (priority desc, url, ts14) lexicographic
    rows = P.with_global_order(fr).select(
        "seq", F.col("decision.priority_score").alias("p"), "url", "ts14"
    ).orderBy("seq").collect()
    keyed = [(-r["p"], r["url"], r["ts14"]) for r in rows]
    assert keyed == sorted(keyed)


def test_global_order_row_bound_gives_identical_seq(spark, pages):
    """A known row bound only picks the exchange: seq is identical with and
    without it, whether the bound fits one range partition (no sampling,
    cache or count job) or exceeds it (the default multi-partition path)."""
    from .jobcount import count_jobs

    fr = _frontier(spark, pages).cache()
    n = fr.count()

    def seqs(df):
        return {(r["url"], r["ts14"]): r["seq"]
                for r in df.select("seq", "url", "ts14").collect()}

    unbounded = P.with_global_order(fr)
    assert unbounded.select(F.spark_partition_id()).distinct().count() > 1
    with count_jobs(spark) as jobs:
        one = P.with_global_order(fr, max_rows=n)
    assert jobs["n"] == 0
    assert not hasattr(one, "_global_order_cache")
    assert one.rdd.getNumPartitions() == 1
    assert seqs(one) == seqs(unbounded)
    above = P.with_global_order(fr, max_rows=P.ORDER_ONE_PARTITION_ROWS + 1)
    assert above.select(F.spark_partition_id()).distinct().count() > 1
    assert seqs(above) == seqs(unbounded)
    assert sorted(seqs(one).values()) == list(range(1, n + 1))
    for df in (unbounded, above):
        df._global_order_cache.unpersist()
    fr.unpersist()


def test_salted_host_partitioning_splits_mega_host(spark, pages):
    fr = _frontier(spark, pages)
    out = P.with_salted_host_partition(fr, target_rows_per_partition=10)
    mega_salts = (out.filter("host = 'mega.example.com'")
                  .select("host_salt").distinct().count())
    small = out.filter("host != 'mega.example.com'").groupBy("host").agg(
        F.countDistinct("host_salt").alias("k")).agg(F.max("k")).first()[0]
    assert mega_salts > 1
    assert small is not None
    # row count preserved
    assert out.count() == fr.count()


def test_robots_filter_hook(spark, pages):
    fr = _frontier(spark, pages)
    n_all = fr.count()
    assert P.robots_filter(fr, None).count() == n_all  # allow-all default
    rules = spark.createDataFrame(
        [("mega.example.com", "/", False),
         ("mega.example.com", "/articles/entry-3", True)],
        "host string, path_prefix string, allowed boolean")
    out = P.robots_filter(fr, rules)
    mega = out.filter("host='mega.example.com'").select("path").collect()
    assert mega and all(r["path"].startswith("/articles/entry-3") for r in mega)
    # non-matching hosts untouched
    assert out.filter("host != 'mega.example.com'").count() == \
        fr.filter("host != 'mega.example.com'").count()


def test_schedule_round_pruned_identical_scheduled_set(spark):
    """Two-phase (host,salt)-pruned ranking must produce EXACTLY the same
    scheduled set and the same host_rank for scheduled rows as the full
    per-host window, on a skewed frontier (one mega-host)."""
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.politeness import schedule_round

    n = 5000
    frontier = spark.range(n).select(
        F.when(F.col("id") % 3 == 0, "mega.example.com")
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string"),
                            F.lit(".com"))).alias("host"),
        F.concat(F.lit("https://h/p"), F.col("id").cast("string"))
        .alias("url"),
        F.lpad(F.col("id").cast("string"), 14, "0").alias("ts14"),
        F.struct((F.col("id") % 4 + 5).cast("int").alias("priority_score"))
        .alias("decision"),
    )
    base = schedule_round(frontier, round_idx=0)
    pruned = schedule_round(frontier, round_idx=0, prune_salt_k=8)
    b = {(r["url"], r["ts14"]): r["host_rank"] for r in
         base.filter(F.col("sched_status") == "scheduled").collect()}
    p = {(r["url"], r["ts14"]): r["host_rank"] for r in
         pruned.filter(F.col("sched_status") == "scheduled").collect()}
    assert b == p  # identical set AND identical exact ranks
    assert pruned.count() == base.count()  # deferred rows all come back
    # the pruning window really partitions by (host, salt) — no single-task
    # mega-host sort in the plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_schedule_round_pruned_with_overrides(spark):
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.politeness import schedule_round

    frontier = spark.range(200).select(
        F.when(F.col("id") % 2 == 0, "a.com").otherwise("b.com").alias("host"),
        F.concat(F.lit("https://h/p"), F.col("id").cast("string"))
        .alias("url"),
        F.lpad(F.col("id").cast("string"), 14, "0").alias("ts14"),
        F.struct(F.lit(5).alias("priority_score")).alias("decision"),
    )
    overrides = spark.createDataFrame([("a.com", 3)], "host string, budget int")
    base = schedule_round(frontier, budget_overrides=overrides)
    pruned = schedule_round(frontier, budget_overrides=overrides,
                            prune_salt_k=4)
    for df in (base, pruned):
        by_host = {r["host"]: r["count"] for r in
                   df.filter("sched_status = 'scheduled'")
                   .groupBy("host").count().collect()}
        assert by_host["a.com"] == 3
    assert (set(r["url"] for r in
                base.filter("sched_status = 'scheduled'").collect())
            == set(r["url"] for r in
                   pruned.filter("sched_status = 'scheduled'").collect()))


def test_parse_robots(spark):
    from chrono_scraper_spark.operators.politeness import (
        parse_robots,
        robots_filter,
    )

    body_a = """# comment line
User-agent: *
Disallow: /private/
Allow: /private/ok/
Disallow:

User-agent: evilbot
Disallow: /
"""
    body_b = """User-agent: otherbot
Disallow: /all/
"""
    robots = spark.createDataFrame(
        [("a.com", body_a), ("b.com", body_b)], "host string, body string")
    rules = {(r["host"], r["path_prefix"], r["allowed"])
             for r in parse_robots(robots).collect()}
    # '*' group rules kept; evilbot/otherbot groups dropped for UA '*';
    # empty Disallow yields nothing
    assert rules == {("a.com", "/private/", False),
                     ("a.com", "/private/ok/", True)}
    # RFC 9309: the most specific group wins — a named group suppresses
    # the host's '*' group entirely; hosts without a matching group yield
    # no rules (allow-all)
    evil = {(r["host"], r["path_prefix"], r["allowed"])
            for r in parse_robots(robots, user_agent="evilbot").collect()}
    assert evil == {("a.com", "/", False)}

    # end-to-end with robots_filter: longest prefix wins
    frontier = spark.createDataFrame(
        [("a.com", "/private/secret", "u1", "t1"),
         ("a.com", "/private/ok/page", "u2", "t2"),
         ("a.com", "/public/page", "u3", "t3"),
         ("b.com", "/anything", "u4", "t4")],
        "host string, path string, url string, ts14 string")
    kept = {r["url"] for r in
            robots_filter(frontier, parse_robots(robots)).collect()}
    assert kept == {"u2", "u3", "u4"}


def test_robots_filter_adds_no_frontier_shuffle(spark):
    """Regression (r2 verdict #3): robots_filter must not shuffle the
    frontier. The rules side folds to host->array (its own tiny exchange)
    and broadcasts; the frontier-side plan must contain NO Window and no
    hash exchange keyed on frontier columns (url/ts14)."""
    frontier = spark.createDataFrame(
        [("a.com", "/x", "u1", "t1")],
        "host string, path string, url string, ts14 string")
    rules = spark.createDataFrame(
        [("a.com", "/private/", False)],
        "host string, path_prefix string, allowed boolean")
    plan = P.robots_filter(frontier, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(url" not in plan
    assert "hashpartitioning(ts14" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_robots_filter_tie_break_allow_wins(spark):
    """RFC 9309 2.3.2: equal-length Allow and Disallow for the same path —
    the least restrictive (Allow) rule wins, deterministically."""
    frontier = spark.createDataFrame(
        [("a.com", "/dir/page", "u1", "t1")],
        "host string, path string, url string, ts14 string")
    rules = spark.createDataFrame(
        [("a.com", "/dir/", False), ("a.com", "/dir/", True)],
        "host string, path_prefix string, allowed boolean")
    kept = [r["url"] for r in P.robots_filter(frontier, rules).collect()]
    assert kept == ["u1"]


# --------------------------------------------------------------------------
# Crawl-delay: parsing, budget conversion, override merge
# --------------------------------------------------------------------------

def test_parse_crawl_delays(spark):
    bodies = [
        # specific group wins over * (most-specific rule, like parse_robots)
        ("a.example",
         "User-agent: *\nCrawl-delay: 1\n"
         "User-agent: mybot\nCrawl-delay: 5\nDisallow: /x"),
        # only * group; case-insensitive directive; float value
        ("b.example", "User-agent: *\ncrawl-DELAY: 2.5"),
        # repeated directives in the winning group -> max (conservative)
        ("c.example", "User-agent: *\nCrawl-delay: 3\nCrawl-delay: 7"),
        # non-numeric and non-positive values ignored -> no row
        ("d.example", "User-agent: *\nCrawl-delay: fast"),
        ("e.example", "User-agent: *\nCrawl-delay: 0"),
        # no delay directive at all -> no row
        ("f.example", "User-agent: *\nDisallow: /private"),
    ]
    robots = spark.createDataFrame(bodies, "host string, body string")
    got = {r["host"]: r["crawl_delay_s"]
           for r in P.parse_crawl_delays(robots, user_agent="mybot").collect()}
    assert got == {"a.example": 5.0, "b.example": 2.5, "c.example": 7.0}
    # default UA sees only the * groups
    star = {r["host"]: r["crawl_delay_s"]
            for r in P.parse_crawl_delays(robots).collect()}
    assert star["a.example"] == 1.0


def test_crawl_delay_budgets_and_merge(spark):
    delays = spark.createDataFrame(
        [("a", 30.0), ("b", 0.5), ("c", 600.0)],
        "host string, crawl_delay_s double")
    got = {r["host"]: r["budget"]
           for r in P.crawl_delay_budgets(delays, round_seconds=60.0).collect()}
    assert got == {"a": 2, "b": 120, "c": 1}  # min 1 per round

    static = spark.createDataFrame([("a", 1), ("z", 9)],
                                   "host string, budget int")
    merged = {r["host"]: r["budget"]
              for r in P.merge_budget_overrides(
                  static, P.crawl_delay_budgets(delays, 60.0)).collect()}
    # most restrictive wins where both exist; singletons pass through
    assert merged == {"a": 1, "b": 120, "c": 1, "z": 9}
    assert P.merge_budget_overrides(None, static) is static
    assert P.merge_budget_overrides(static, None) is static


def test_schedule_round_honors_crawl_delay_budget(spark, pages):
    fr = _frontier(spark, pages)
    host = fr.groupBy("host").count().orderBy(F.desc("count")) \
        .first()["host"]
    robots = spark.createDataFrame(
        [(host, "User-agent: *\nCrawl-delay: 30")], "host string, body string")
    ov = P.crawl_delay_budgets(P.parse_crawl_delays(robots), 60.0)
    out = P.schedule_round(fr, round_idx=1, rps=1.0, round_seconds=60.0,
                           budget_overrides=ov)
    per_host = {r["host"]: r["count"]
                for r in out.filter("sched_status = 'scheduled'")
                .groupBy("host").count().collect()}
    assert per_host[host] <= 2          # 60 s / 30 s delay
    assert any(v > 2 for h, v in per_host.items() if h != host)

def test_robots_filter_wildcards(spark):
    """RFC 9309 §2.2.3 special characters: '*' matches any sequence, a
    TRAILING '$' anchors at path end (mid-'$' is a literal octet);
    specificity = octet length of the rule as written, Allow wins ties."""
    frontier = spark.createDataFrame(
        [("a.com", "/paper-7.pdf", "u1", "t1"),     # blocked: /*.pdf$
         ("a.com", "/paper-7.pdfx", "u2", "t2"),    # kept: $ anchor misses
         ("a.com", "/journal/vol-1/article-9", "u3", "t3"),  # blocked
         ("a.com", "/journal/vol-3/article-9", "u4", "t4"),  # kept: longer
         # Allow out-specifies the mid-* Disallow
         ("a.com", "/index.html", "u5", "t5"),      # blocked: exact anchor
         ("a.com", "/index.html?x=1", "u6", "t6"),  # kept: anchored rule
         ("a.com", "/fish$tank", "u7", "t7"),       # blocked: literal $
         ("a.com", "/other", "u8", "t8")],          # kept: no rule matches
        "host string, path string, url string, ts14 string")
    rules = spark.createDataFrame(
        [("a.com", "/*.pdf$", False),
         ("a.com", "/journal/*/article-", False),
         ("a.com", "/journal/vol-3/article-*", True),
         ("a.com", "/index.html$", False),
         ("a.com", "/fish$t", False)],
        "host string, path_prefix string, allowed boolean")
    kept = sorted(r["url"] for r in
                  P.robots_filter(frontier, rules).collect())
    assert kept == ["u2", "u4", "u6", "u8"]


def test_robots_filter_wildcard_regex_metachars_literal(spark):
    """Regex metacharacters in rule paths stay literal: a rule like
    '/a+b(c)/' must match only that exact prefix, even when the rule also
    uses '*' (i.e. goes down the compiled-regex path)."""
    frontier = spark.createDataFrame(
        [("a.com", "/a+b(c)/x.d", "u1", "t1"),
         ("a.com", "/aab(c)/x.d", "u2", "t2"),   # '+' is not regex-plus
         ("a.com", "/a+bXc)/x.d", "u3", "t3")],  # parens literal
        "host string, path string, url string, ts14 string")
    rules = spark.createDataFrame(
        [("a.com", "/a+b(c)/*.d$", False)],
        "host string, path_prefix string, allowed boolean")
    kept = sorted(r["url"] for r in
                  P.robots_filter(frontier, rules).collect())
    assert kept == ["u2", "u3"]


def test_robots_filter_wildcard_keeps_frontier_unshuffled(spark):
    """The wildcard path compiles regexes on the RULES side; the frontier
    plan must stay window-free and unshuffled exactly like the
    prefix-only path."""
    frontier = spark.createDataFrame(
        [("a.com", "/x", "u1", "t1")],
        "host string, path string, url string, ts14 string")
    rules = spark.createDataFrame(
        [("a.com", "/private/*.pdf$", False)],
        "host string, path_prefix string, allowed boolean")
    plan = P.robots_filter(frontier, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(url" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_parse_robots_wildcard_e2e(spark):
    """A real robots.txt body with RFC 9309 wildcard rules flows through
    parse_robots -> robots_filter end-to-end (patterns survive parsing
    verbatim and match with */$ semantics)."""
    from chrono_scraper_spark.operators.politeness import (
        parse_robots,
        robots_filter,
    )

    body = """User-agent: *
Disallow: /*.php$
Disallow: /search/
Allow: /search/help
"""
    robots = spark.createDataFrame([("a.com", body)],
                                   "host string, body string")
    frontier = spark.createDataFrame(
        [("a.com", "/page.php", "u1", "t1"),
         ("a.com", "/page.php?x=1", "u2", "t2"),   # $ misses with query
         ("a.com", "/search/q", "u3", "t3"),
         ("a.com", "/search/help/x", "u4", "t4"),  # longer Allow wins
         ("a.com", "/plain", "u5", "t5")],
        "host string, path string, url string, ts14 string")
    kept = sorted(r["url"] for r in
                  robots_filter(frontier, parse_robots(robots)).collect())
    assert kept == ["u2", "u4", "u5"]


def test_authority_budgets_hamilton(spark):
    """Exact largest-remainder apportionment: seats sum to the budget when
    no min-budget bump fires; remainder ties break on host asc."""
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.politeness import authority_budgets

    ranks = spark.createDataFrame(
        [("a", 500), ("b", 300), ("c", 200)],
        "host string, rank_nano long")
    got = {r["host"]: r["budget"] for r in
           authority_budgets(ranks, 10).collect()}
    assert got == {"a": 5, "b": 3, "c": 2}
    # remainders force seat awards: 7 seats over (500,300,200) ->
    # bases (3,2,1)=6, remainders (500,100,400) -> seat to a... wait:
    # quota a=3500/1000=3 rem 500, b=2100/1000=2 rem 100, c=1400/1000=1
    # rem 400 -> 1 leftover seat -> a. Totals (4,2,1)=7.
    got = {r["host"]: r["budget"] for r in
           authority_budgets(ranks, 7).collect()}
    assert got == {"a": 4, "b": 2, "c": 1} and sum(got.values()) == 7


def test_authority_budgets_min_and_python_twin(spark):
    """Zero-rank hosts get min_budget; a python twin checks a larger
    random-ish (but deterministic) allocation exactly, including the
    two-phase pruned remainder ranking."""
    from chrono_scraper_spark.operators.politeness import authority_budgets

    n, total = 200, 137
    rows = [(f"h{i:03d}", (i * 7919) % 101) for i in range(n)]
    ranks = spark.createDataFrame(rows, "host string, rank_nano long")
    got = {r["host"]: r["budget"] for r in
           authority_budgets(ranks, total).collect()}
    s = sum(v for _, v in rows)
    base = {h: total * v // s for h, v in rows}
    rem = {h: total * v % s for h, v in rows}
    left = total - sum(base.values())
    seats = sorted(rows, key=lambda hv: (-rem[hv[0]], hv[0]))[:left]
    want = {h: max(1, base[h] + (1 if (h, v) in seats else 0))
            for h, v in rows}
    assert got == want


def test_authority_budgets_feed_schedule_round(spark):
    """Budgets plug into schedule_round(budget_overrides=...) unchanged."""
    from pyspark.sql import functions as F

    from chrono_scraper_spark.operators.politeness import (
        authority_budgets,
        schedule_round,
    )

    ranks = spark.createDataFrame([("a.com", 900), ("b.com", 100)],
                                  "host string, rank_nano long")
    budgets = authority_budgets(ranks, 10)  # a:9, b:1
    frontier = spark.range(40).select(
        F.when(F.col("id") % 2 == 0, "a.com").otherwise("b.com")
        .alias("host"),
        F.concat(F.lit("https://h/p"), F.col("id").cast("string"))
        .alias("url"),
        F.lpad(F.col("id").cast("string"), 14, "0").alias("ts14"),
        F.struct(F.lit(5).alias("priority_score")).alias("decision"))
    out = schedule_round(frontier, budget_overrides=budgets)
    sched = {r["host"]: r["count"] for r in
             out.filter("sched_status = 'scheduled'")
             .groupBy("host").count().collect()}
    assert sched == {"a.com": 9, "b.com": 1}


# ---------------------------------------------------------------------------
# AIMD adaptive budgets
# ---------------------------------------------------------------------------

def test_adaptive_budgets_fold(spark):
    from chrono_scraper_spark.operators.politeness import adaptive_budgets

    rows = [
        # clean.example: 3 clean rounds -> 8 +2 +2 +2 = 14
        ("clean.example", 0, 200), ("clean.example", 1, 200),
        ("clean.example", 2, 404),           # hard 4xx is NOT an error round
        # throttled.example: err, clean, err -> 8/2=4, +2=6, /2=3
        ("throttled.example", 0, 429), ("throttled.example", 0, 200),
        ("throttled.example", 1, 200), ("throttled.example", 2, 503),
        # floor.example: 5 error rounds -> 8,4,2,1,1 -> floor holds at 1
        *[("floor.example", r, 503) for r in range(5)],
    ]
    log = spark.createDataFrame(
        rows, "host string, round_idx int, http_status int")
    got = {r["host"]: r["budget"]
           for r in adaptive_budgets(log).collect()}
    assert got == {"clean.example": 14, "throttled.example": 3,
                   "floor.example": 1}


def test_adaptive_budgets_cap_and_schedule_compose(spark):
    from chrono_scraper_spark.operators.politeness import (
        adaptive_budgets,
        schedule_round,
    )

    # 40 clean rounds cap at max_budget
    log = spark.createDataFrame(
        [("h.example", r, 200) for r in range(40)],
        "host string, round_idx int, http_status int")
    budgets = adaptive_budgets(log)
    assert budgets.collect()[0]["budget"] == 64

    # the output plugs into schedule_round as budget_overrides
    frontier = spark.createDataFrame(
        [(f"https://h.example/{i}", f"{i:014d}", "h.example", 100 - i)
         for i in range(70)],
        "url string, ts14 string, host string, ps int") \
        .withColumn("decision",
                    F.struct(F.col("ps").alias("priority_score")))
    sched = schedule_round(frontier, round_idx=0,
                           budget_overrides=budgets)
    n = sched.filter("sched_status = 'scheduled'").count()
    assert n == 64
