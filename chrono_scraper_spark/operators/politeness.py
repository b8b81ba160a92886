"""Politeness priority queue: crawl ordering, per-host rate budgets, skew
salting (SURVEY §2.4 P1/P4/P5/P8, §2.8 W5).

Reference semantics being reproduced:
- crawl order = priority desc, then stable insertion order
  (firecrawl_scraping.py:1043-1047, 1467-1475)
- per-host token bucket 1 req/s, burst 5 (fetch_service.py:49-80,
  .env.example:49-58) — re-expressed as a *budget per round*: a round spans
  ``round_seconds`` of wall-clock, so host h may fetch
  ``burst + rps*round_seconds`` URLs in round 0 and ``rps*round_seconds``
  thereafter. Deferred rows spill into the next round, which reproduces the
  token-bucket schedule deterministically (no wall-clock in the plan).
- mega-host skew: a host with 30%+ of the frontier would pin one task
  (reference has this flaw: one Celery task per domain, celery_app.py:88-112);
  we salt the host partition key so fetch work for a mega-host spreads over
  ``split_k(host)`` partitions while the *budget* ranking stays per-host.

Scale notes: ordering within a host is a per-host window (one shuffle on
host). The global crawl sequence is NOT a single-partition window — see
``with_global_order`` which range-partitions by the order key and offsets
per-partition row numbers (two tiny passes, no driver collect of rows). A
caller that knows a round-sized row bound gets one range partition and no
extra pass at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import config as C

# largest known row bound ordered in ONE range partition. Measured on a
# 4-core VM (local[4], median of 7 warm runs, frontier-shaped rows): 1,500
# rows 143 ms vs 469 ms for the default range exchange with its sampling,
# cache and count jobs; 20,000 rows 165 vs 382 ms; 100,000 rows 375 vs
# 502 ms. A round's schedule (30 to 1,500 rows in the benchmark) is far
# below it; above it the default range exchange runs unchanged.
ORDER_ONE_PARTITION_ROWS = 100_000


def with_priority_order_key(frontier: DataFrame) -> DataFrame:
    """P1: the stable total order (priority desc, url asc, ts14 asc)."""
    return frontier.withColumn(
        "order_key",
        F.struct(
            (-F.col("decision.priority_score")).alias("neg_priority"),
            F.col("url").alias("url"),
            F.col("ts14").alias("ts14"),
        ),
    )


def with_global_seq(keyed: DataFrame, order_key_col: str = "order_key",
                    out_col: str = "seq",
                    max_rows: int | None = None) -> DataFrame:
    """Generic deterministic global row number without a one-partition
    window: range-partition on ``order_key_col`` (a single struct column
    whose ascending order IS the wanted total order), sort within
    partitions, then assign ``out_col = partition_offset + local_index`` in
    ONE shuffle-free projection. Partition offsets come from an
    exclusive prefix-sum of per-partition counts (one long per partition
    collected — never rows). A pid-partitioned window here would re-shuffle
    everything on the pid hash; this keeps the range exchange as the only
    shuffle.

    The range-partitioned frame is cached (the count pass and the assign
    pass must see identical partitioning); the cache handle rides on the
    returned DataFrame as ``_global_order_cache`` so callers can unpersist
    once the output is materialized (CrawlJob.run_round does).

    ``max_rows``: an upper bound on the input rows, when the caller knows
    one. At most ``ORDER_ONE_PARTITION_ROWS`` the exchange has ONE
    partition: Spark's RangePartitioner skips its sampling job there and
    the only offset is 0, so no cache, no count pass and no job runs until
    the caller's action."""
    if max_rows is not None and max_rows <= ORDER_ONE_PARTITION_ROWS:
        ordered = (keyed.repartitionByRange(1, order_key_col)
                   .sortWithinPartitions(order_key_col)
                   .drop(order_key_col))
        return ordered.withColumn(
            out_col, (F.monotonically_increasing_id() + 1).cast("long"))

    ordered = (
        keyed
        .repartitionByRange(order_key_col)
        .sortWithinPartitions(order_key_col)
        .drop(order_key_col)
        .cache()
    )
    counts = (
        ordered.groupBy(F.spark_partition_id().alias("__pid")).count()
        .orderBy("__pid").collect()
    )
    offsets = {}
    acc = 0
    for row in counts:
        offsets[row["__pid"]] = acc
        acc += row["count"]

    # Assign pass, zero Python (round 6 — this was a mapInPandas, i.e. a
    # full Arrow round-trip of every frontier column, every round):
    # ``monotonically_increasing_id()`` packs (partitionId << 33) +
    # 0-based row index in the order rows stream through the projection;
    # subtracting the partition base leaves the sorted local index, and
    # adding the collected partition offset gives the exact global seq.
    # Rows stream in sorted order because the projection sits directly on
    # the cached sorted partitions, and the expression's non-determinism
    # keeps Catalyst from moving it. Values are identical to the former
    # per-batch range assignment (tests/test_politeness.py::
    # test_global_order_deterministic_and_dense asserts density,
    # partition-invariance and the order law; the crawl_order oracle
    # hash-checks the values end to end).
    if offsets:
        off_map = F.create_map(*[x for p, o in offsets.items()
                                 for x in (F.lit(p), F.lit(o))])
        base = F.coalesce(
            F.element_at(off_map, F.spark_partition_id()), F.lit(0))
    else:
        base = F.lit(0)
    local = (F.monotonically_increasing_id()
             - (F.spark_partition_id().cast("long") * F.lit(1 << 33)))
    out = ordered.withColumn(out_col, (base + local + 1).cast("long"))
    out._global_order_cache = ordered  # type: ignore[attr-defined]
    return out


def with_global_order(frontier: DataFrame,
                      max_rows: int | None = None) -> DataFrame:
    """Deterministic global crawl sequence ``seq`` (P1) via
    ``with_global_seq`` over the crawl's stable order key — see that
    helper for the prefix-sum shape, the one-partition ``max_rows`` path
    and the cache contract."""
    return with_global_seq(with_priority_order_key(frontier),
                           max_rows=max_rows)


def host_budgets(round_idx: int, rps: float = C.DEFAULT_HOST_RPS,
                 burst: int = C.DEFAULT_HOST_BURST,
                 round_seconds: float = C.DEFAULT_ROUND_SECONDS) -> int:
    """Token-bucket ≙ budget-per-round mapping (P4): round 0 additionally
    drains the initial burst."""
    base = int(rps * round_seconds)
    return base + (burst if round_idx == 0 else 0)


def schedule_round(
    frontier: DataFrame,
    round_idx: int = 0,
    rps: float = C.DEFAULT_HOST_RPS,
    burst: int = C.DEFAULT_HOST_BURST,
    round_seconds: float = C.DEFAULT_ROUND_SECONDS,
    budget_overrides: DataFrame | None = None,
    prune_salt_k: int | None = None,
) -> DataFrame:
    """W5: within each host, rank by (priority desc, url, ts14) and mark the
    first ``budget`` rows ``scheduled`` — the rest ``deferred`` to the next
    round. ``budget_overrides(host, budget)`` broadcasts per-host budgets
    (source-level limits like archive.org's 15/min, archive_org_client.py:23-28).

    ``prune_salt_k`` enables the MEGA-HOST-SAFE two-phase ranking: a per-host
    window makes one task sort the host's ENTIRE frontier (10^9 rows for a
    mega-host) even though only ``budget`` rows survive. With pruning, rows
    first rank within (host, salt) partitions (salt = hash(url, ts14) mod k)
    and only per-salt rank ≤ budget survives to the exact per-host window —
    any row in the true per-host top-budget has per-salt rank ≤ its per-host
    rank ≤ budget, so the SCHEDULED SET IS IDENTICAL to the unpruned path
    (proof: a row with true rank > budget is preceded by ≥ budget surviving
    rows, so its survivor rank > budget too). The exact window then sorts at
    most k×budget rows per host. Pruned-away rows come back ``deferred``
    with ``host_rank`` null (their exact rank is unknowable without the full
    sort — and unneeded: only scheduled/deferred feeds the round)."""
    budget_default = host_budgets(round_idx, rps, burst, round_seconds)
    order = [F.col("decision.priority_score").desc(), F.col("url").asc(),
             F.col("ts14").asc()]

    def _with_budget(df: DataFrame) -> tuple[DataFrame, Column]:
        if budget_overrides is not None:
            df = df.join(F.broadcast(budget_overrides), "host", "left")
            return df, F.coalesce(F.col("budget"), F.lit(budget_default))
        return df, F.lit(budget_default)

    if prune_salt_k is None:
        df = frontier.withColumn(
            "host_rank", F.row_number().over(
                Window.partitionBy("host").orderBy(*order)))
        df, budget = _with_budget(df)
        df = df.withColumn(
            "sched_status",
            F.when(F.col("host_rank") <= budget, F.lit("scheduled"))
            .otherwise(F.lit("deferred")),
        )
        return df.drop("budget") if budget_overrides is not None else df

    df, budget = _with_budget(frontier)
    df = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("url"), F.col("ts14")),
               F.lit(prune_salt_k)).cast("int"))
    w_salt = Window.partitionBy("host", "__salt").orderBy(*order)
    df = df.withColumn("__prune_rank", F.row_number().over(w_salt))
    survivors = df.filter(F.col("__prune_rank") <= budget)
    pruned = df.filter(F.col("__prune_rank") > budget)
    w_host = Window.partitionBy("host").orderBy(*order)
    survivors = survivors.withColumn(
        "host_rank", F.row_number().over(w_host)
    ).withColumn(
        "sched_status",
        F.when(F.col("host_rank") <= budget, F.lit("scheduled"))
        .otherwise(F.lit("deferred")),
    ).withColumn(
        "host_rank",
        F.when(F.col("sched_status") == "scheduled", F.col("host_rank"))
        .cast("int"),
    )
    pruned = pruned.withColumn(
        "host_rank", F.lit(None).cast("int")).withColumn(
        "sched_status", F.lit("deferred"))
    out = survivors.unionByName(pruned).drop("__salt", "__prune_rank")
    return out.drop("budget") if budget_overrides is not None else out


def with_salted_host_partition(frontier: DataFrame,
                               target_rows_per_partition: int = 50_000) -> DataFrame:
    """P8 skew splitting: partition fetch work by ``(host, salt)`` where
    ``salt = pmod(xxhash64(url, ts14), split_k(host))`` and ``split_k`` grows
    with the host's frontier size. One count-by-host aggregation (small —
    #hosts rows, broadcast back) then a map-side projection + repartition.
    A mega-host with 3×10^9 rows gets ~60k partitions instead of one."""
    host_counts = frontier.groupBy("host").agg(F.count(F.lit(1)).alias("__hn"))
    split_k = F.greatest(
        F.lit(1),
        F.ceil(F.col("__hn") / F.lit(target_rows_per_partition)).cast("int"),
    )
    host_counts = host_counts.withColumn("__split_k", split_k).drop("__hn")
    df = frontier.join(F.broadcast(host_counts), "host", "left")
    df = df.withColumn(
        "host_salt",
        F.pmod(F.xxhash64(F.col("url"), F.col("ts14")),
               F.coalesce(F.col("__split_k"), F.lit(1))).cast("int"),
    ).drop("__split_k")
    return df.repartition(F.col("host"), F.col("host_salt"))


def parse_robots(robots: DataFrame, *, user_agent: str = "*") -> DataFrame:
    """P10: vectorized robots.txt parser → the ``robots_rules(host,
    path_prefix, allowed)`` table ``robots_filter`` consumes.

    Input: one row per fetched robots.txt — ``(host, body string)``. Pure
    column expressions: split body into lines, track the active
    ``User-agent`` group with a running window (last UA line at or above
    each rule line), keep only the MOST SPECIFIC matching group per host
    (the named group when present, else the ``*`` group — RFC 9309
    §2.2.1), and emit one rule row per Allow/Disallow with a non-empty
    path. An
    empty ``Disallow:`` means allow-all and yields no restricting row —
    per the robots exclusion protocol (RFC 9309 §2.2.2).

    One shuffle (the UA-group window, partitioned by host — robots files
    are small, a few hundred lines, so per-host windows are trivial)."""
    lines = (robots
             .select("host", F.posexplode(F.split(F.col("body"), "\n"))
                     .alias("line_no", "raw"))
             .withColumn("line", F.trim(F.regexp_replace("raw", "#.*$", ""))))
    lines = lines.withColumn(
        "ua",
        F.when(F.lower("line").startswith("user-agent:"),
               F.lower(F.trim(F.expr("substring(line, 12)")))))
    w = (Window.partitionBy("host").orderBy("line_no")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lines = lines.withColumn("group_ua", F.last("ua", ignorenulls=True).over(w))
    is_allow = F.lower("line").startswith("allow:")
    is_disallow = F.lower("line").startswith("disallow:")
    candidates = (lines
                  .filter((is_allow | is_disallow)
                          & F.col("group_ua")
                          .isin(user_agent.lower(), "*")))
    # RFC 9309 §2.2.1: a crawler obeys the MOST SPECIFIC matching group
    # only — '*' groups apply solely to hosts with no group naming this UA
    wh = Window.partitionBy("host")
    candidates = candidates.withColumn(
        "has_specific",
        F.max((F.col("group_ua") == user_agent.lower()).cast("int")).over(wh))
    rules = (candidates
             .filter((F.col("group_ua") == user_agent.lower())
                     | (F.col("has_specific") == 0))
             .withColumn("path_prefix",
                         F.trim(F.expr("substring(line, instr(line, ':') + 1)")))
             .filter(F.col("path_prefix") != "")
             .select("host", "path_prefix",
                     is_allow.alias("allowed")))
    return rules.distinct()


def parse_crawl_delays(robots: DataFrame, *,
                       user_agent: str = "*") -> DataFrame:
    """``Crawl-delay`` extraction → ``(host, crawl_delay_s double)``.

    Crawl-delay is the de-facto per-host rate directive (not in RFC 9309,
    but honored by Bing/Yandex and emitted by a large share of real
    robots.txt files); the reference's RobotFileParser surface exposes it
    as ``crawl_delay()``. Group resolution mirrors ``parse_robots``: the
    MOST SPECIFIC matching User-agent group wins (named group when
    present, else ``*`` — resolved over Crawl-delay lines). When the
    winning group repeats the directive, the MAXIMUM (most conservative)
    delay wins; non-numeric or non-positive values are ignored.

    Same scale shape as ``parse_robots``: one per-host window over the
    (tiny) robots line sets; output is host-cardinality, always broadcast.
    """
    ua = user_agent.lower()
    lines = (robots
             .select("host", F.posexplode(F.split(F.col("body"), "\n"))
                     .alias("line_no", "raw"))
             .withColumn("line", F.trim(F.regexp_replace("raw", "#.*$", ""))))
    lines = lines.withColumn(
        "ua",
        F.when(F.lower("line").startswith("user-agent:"),
               F.lower(F.trim(F.expr("substring(line, 12)")))))
    w = (Window.partitionBy("host").orderBy("line_no")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lines = lines.withColumn("group_ua", F.last("ua", ignorenulls=True).over(w))
    cand = lines.filter(F.lower("line").startswith("crawl-delay:")
                        & F.col("group_ua").isin(ua, "*"))
    wh = Window.partitionBy("host")
    cand = cand.withColumn(
        "has_specific",
        F.max((F.col("group_ua") == ua).cast("int")).over(wh))
    vals = (cand
            .filter((F.col("group_ua") == ua) | (F.col("has_specific") == 0))
            .withColumn(
                "val",
                F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
                .try_cast("double"))  # malformed values -> NULL, not error
            .filter(F.col("val").isNotNull() & (F.col("val") > 0)))
    return vals.groupBy("host").agg(F.max("val").alias("crawl_delay_s"))


def crawl_delay_budgets(delays: DataFrame,
                        round_seconds: float = C.DEFAULT_ROUND_SECONDS
                        ) -> DataFrame:
    """Convert ``(host, crawl_delay_s)`` into per-round fetch budgets for
    ``schedule_round(budget_overrides=...)``: ``floor(round_seconds /
    delay)``, minimum 1 — a delay longer than the round degrades to one
    fetch per round (the per-round budget model cannot defer below one
    row without starving the host forever; the honored inter-fetch gap is
    then ``round_seconds``, still ≥ the common 60-300 s directives only
    when rounds are that long — documented, conservative-enough for the
    batch model)."""
    return delays.select(
        "host",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(float(round_seconds)) / F.col("crawl_delay_s")))
        .cast("int").alias("budget"))


def merge_budget_overrides(a: DataFrame | None,
                           b: DataFrame | None) -> DataFrame | None:
    """Combine two ``(host, budget)`` override frames — the MOST
    RESTRICTIVE (smallest) budget wins per host (static source limits vs
    live Crawl-delay directives)."""
    if a is None:
        return b
    if b is None:
        return a
    return (a.unionByName(b)
            .groupBy("host").agg(F.min("budget").cast("int").alias("budget")))


def robots_filter(frontier: DataFrame, robots_rules: DataFrame | None) -> DataFrame:
    """P10 hook (absent in the reference — engine addition per north_rule):
    ``robots_rules(host, path_prefix, allowed)``. Default allow-all preserves
    reference ordering parity. The most specific matching rule wins —
    specificity = octet length of the rule path as written (RFC 9309
    §2.2.2, Google's reference matcher convention); on an equal-length
    Allow/Disallow tie the least restrictive (Allow) rule wins (§2.3.2).

    Rule paths support the RFC 9309 §2.2.3 special characters: ``*``
    matches any character sequence and a TRAILING ``$`` anchors the match
    at the end of the path (a ``$`` anywhere else is a literal octet, as
    in Google's matcher). Rules without either remain plain prefixes.

    Scale shape: the per-host rule set is folded to ONE row per host
    (host → rules array pre-sorted most-specific-first) and broadcast; the
    winning rule is then a per-row ``filter``+``element_at`` over the
    array — entirely inside codegen. Wildcard rules are pre-compiled to
    anchored Java regexes ON THE RULES SIDE (host-rule cardinality) so the
    per-frontier-row work is ``startswith`` for the plain-prefix majority
    and ``regexp_like`` only for the rare wildcard rules. The frontier is
    NEVER shuffled: r2's implementation ran a row_number window
    partitioned by (url, ts14), a full exchange of the 10^10-row frontier
    on a near-unique key where every window partition held a handful of
    rows. The only exchanges left are on the rules side (#hosts rows: the
    fold agg + the broadcast)."""
    if robots_rules is None:
        return frontier
    # Rule compilation (host-rule cardinality, before the fold): strip a
    # trailing '$' (anchor), escape regex metachars EXCEPT '*', then
    # '*' -> '.*'; '^' prefix pins the match at the path start (Spark's
    # regexp_like and the oracle's RE2 both substring-search otherwise).
    anchored = F.col("path_prefix").endswith("$")
    base = F.when(
        anchored,
        F.expr("substring(path_prefix, 1, length(path_prefix) - 1)")
    ).otherwise(F.col("path_prefix"))
    has_wild = anchored | base.contains("*")
    esc = F.regexp_replace(base, r'([\\.\[\]{}()+?^$|])', r'\\$1')
    rx = F.concat(F.lit("^"), F.regexp_replace(esc, r"\*", ".*"),
                  F.when(anchored, F.lit("$")).otherwise(F.lit("")))
    # host → rules array, sorted (most specific first, Allow before
    # Disallow on ties). array_sort on structs orders by fields
    # lexicographically, so the sort key fields lead the struct.
    rules_arr = (
        robots_rules
        .groupBy("host")
        .agg(F.array_sort(F.collect_list(F.struct(
            (-F.octet_length("path_prefix")).alias("neg_len"),
            (~F.col("allowed")).cast("int").alias("disallow_tie"),
            F.col("path_prefix").alias("path_prefix"),
            F.col("allowed").alias("allowed"),
            has_wild.alias("has_wild"),
            rx.alias("rx"),
        ))).alias("__rules")))
    joined = frontier.join(F.broadcast(rules_arr), "host", "left")
    matches = F.filter(
        F.col("__rules"),
        lambda r: F.when(r["has_wild"],
                         F.regexp_like(F.col("path"), r["rx"]))
        .otherwise(F.col("path").startswith(r["path_prefix"])))
    robots_allowed = F.when(
        F.col("__rules").isNull() | (F.size(matches) == 0), F.lit(True)
    ).otherwise(F.element_at(matches, 1)["allowed"])
    return (joined.withColumn("robots_allowed", robots_allowed)
            .filter(F.col("robots_allowed"))
            .drop("__rules", "robots_allowed"))


def authority_budgets(ranks: DataFrame, total_budget: int,
                      *, min_budget: int = 1) -> DataFrame:
    """Allocate a global per-round fetch budget across hosts proportionally
    to link authority — the scheduler analog of the reference's per-source
    rate overrides (.env SCRAPER_* budgets), but data-driven from
    ``graph.host_authority`` ranks instead of static config.

    Largest-remainder (Hamilton) apportionment in exact integer
    arithmetic: ``floor(total * rank / sum_rank)`` per host, then the
    leftover seats go to the largest remainders (host as the
    deterministic tie-break). Every host gets at least ``min_budget`` —
    a zero budget would starve a host forever (the same invariant
    ``crawl_delay_budgets`` keeps). Output ``(host, budget int)`` plugs
    straight into ``schedule_round(budget_overrides=...)`` /
    ``merge_budget_overrides``.

    Scale shape: one host-cardinality sum (broadcast back as a 1-row
    frame), one window over hosts ordered by remainder — all at host
    cardinality (millions of rows at web scale, trivially shuffled);
    the frontier is untouched.
    """
    tot = ranks.agg(F.sum("rank_nano").alias("__sum"))
    j = ranks.join(F.broadcast(tot))
    quota = F.expr(f"CAST({int(total_budget)} AS BIGINT) * rank_nano")
    base = F.expr(
        f"CAST({int(total_budget)} AS BIGINT) * rank_nano DIV __sum")
    rem = quota - base * F.col("__sum")
    j = j.select("host", base.alias("base"), rem.alias("rem"))
    # leftover seats = total - sum(base); award them to the largest
    # remainders. The remainder ranking is TWO-PHASE like schedule_round's
    # mega-host prune: a single global row_number window would sort every
    # host in one task, so rows first rank within salt partitions and only
    # per-salt rank <= leftover survives to the exact global window (a row
    # in the true top-`left` has per-salt rank <= global rank <= left, so
    # the seat set is identical; non-survivors provably win no seat).
    left = j.agg(
        (F.lit(int(total_budget)) - F.sum("base")).alias("__left"))
    j = j.join(F.broadcast(left))
    order = [F.col("rem").desc(), F.col("host").asc()]
    salt = F.pmod(F.xxhash64("host"), F.lit(32)).cast("int")
    w_salt = Window.partitionBy(salt).orderBy(*order)
    j = j.withColumn("__prune", F.row_number().over(w_salt))
    survivors = (j.filter(F.col("__prune") <= F.col("__left"))
                 .withColumn("__pos",
                             F.row_number().over(Window.orderBy(*order))))
    rest = j.filter(F.col("__prune") > F.col("__left")) \
        .withColumn("__pos", F.lit(None).cast("int"))
    seat = F.when(F.col("__pos") <= F.col("__left"), 1).otherwise(0)
    return (survivors.unionByName(rest)
            .select(
                "host",
                F.greatest(
                    F.lit(int(min_budget)),
                    (F.col("base") + F.coalesce(seat, F.lit(0)))
                    .cast("int")).alias("budget")))


def adaptive_budgets(fetch_log: DataFrame, *,
                     base_budget: int = 8,
                     increase: int = 2,
                     min_budget: int = 1,
                     max_budget: int = 64,
                     error_statuses: tuple = (429, 500, 502, 503, 504)
                     ) -> DataFrame:
    """AIMD per-host budgets from observed fetch outcomes — congestion
    control for politeness (TCP's additive-increase /
    multiplicative-decrease, applied per origin host).

    Folds each host's round history in round order: a round containing
    ANY throttle/server-error status (``error_statuses``) HALVES the
    host's next-round budget (floor ``min_budget``); a clean round adds
    ``increase`` (cap ``max_budget``). The result ``(host, budget)``
    feeds ``schedule_round(budget_overrides=…)`` directly — static
    source limits still compose via ``merge_budget_overrides`` (most
    restrictive wins).

    Shape: one agg to (host, round) error flags — shuffle carries
    (host, int, bool) — one collect_list per host, then the fold is a
    single ``aggregate`` lambda over the sorted flag array (pure
    codegen; rounds-per-host is small by construction). Deterministic:
    the fold order is the round order, ties don't exist (one flag per
    round). The halving uses ``shiftright`` so both engines do the same
    integer arithmetic."""
    flags = (fetch_log
             .groupBy("host", "round_idx")
             .agg(F.max(F.when(
                 F.col("http_status").isin(*error_statuses), 1)
                 .otherwise(0)).alias("err")))
    per_host = (flags
                .groupBy("host")
                .agg(F.array_sort(F.collect_list(
                    F.struct(F.col("round_idx").alias("r"),
                             F.col("err").alias("e")))).alias("hist")))
    folded = F.aggregate(
        F.transform("hist", lambda s: s["e"]),
        F.lit(base_budget),
        lambda acc, e: F.when(
            e == 1, F.greatest(F.lit(min_budget), F.shiftright(acc, 1)))
        .otherwise(F.least(F.lit(max_budget), acc + F.lit(increase))))
    return per_host.select("host", folded.cast("int").alias("budget"))
