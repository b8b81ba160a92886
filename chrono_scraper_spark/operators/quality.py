"""Training-data quality / curation operators: Gopher-style repetition and
quality signals, benchmark decontamination, deterministic stratified
sampling.

These extend the reference's per-page quality scoring
(robust_content_extractor.py:113-159, shared_pages_scraping.py:195-196) to
the corpus-curation ops an LLM training-data pipeline runs at 100 TB:

* ``gopher_signals`` — the MassiveText/Gopher repetition + quality rules
  (after Rae et al. 2021, §A1.1) as pure column expressions. Every signal is
  a per-row projection: NO shuffle, fully whole-stage-codegen. The n-gram
  repetition stats (top-2-gram char fraction, duplicated-5-gram char
  fraction) use a sort + one-pass lambda ``aggregate`` over the row's gram
  array — O(w log w) per doc, not the naive O(w²) distinct×count scan — so a
  pathological 100 KB doc costs ~20k·log ops, not 4×10⁸.

  **Gram fractions use §A1.1 character-COVERAGE semantics** (since r4;
  r1-r3 counted occurrences×length, which could exceed 1.0): a word
  position is *covered* when any counted gram occurrence spans it, covered
  characters are summed once however many grams overlap them, and the
  denominator is the document's non-whitespace character count — so both
  fractions are provably ≤ 1.0. ``top2gram_char_frac`` covers ALL
  occurrences of the single most frequent 2-gram (count tie → the
  lexicographically smallest gram, deterministic on both engines);
  ``dup5gram_char_frac`` covers the non-FIRST occurrences of every
  duplicated 5-gram (the canonical convention — the first occurrence is
  legitimate content). Disclosed convention: coverage is measured in
  word characters (inter-word whitespace is in neither numerator nor
  denominator; the paper's raw-text spans differ by at most the counted
  separators). The engine computes the union with a sorted
  interval sweep (O(starts·k) per row, in codegen); the oracle computes
  it relationally (occurrence positions × DISTINCT covered word index),
  so agreement checks the semantics, not the code shape.
* ``decontaminate`` — flags corpus docs sharing word k-grams with a
  benchmark/eval set. The benchmark gram set is tiny relative to the corpus
  (eval suites are MBs; the corpus is TBs), so the plan is explode →
  **broadcast** inner join → per-doc count: the corpus is never shuffled,
  only its matching grams are aggregated (partial map-side combine).
* ``stratified_sample`` — deterministic per-stratum top-``cap`` sample
  ordered by md5(key): reproducible across runs/engines (md5 is portable to
  the DuckDB oracle), with the same two-phase mega-stratum guard as
  ``politeness.schedule_round`` (rank within (stratum, salt) first, keep
  ``cap`` per salt, then the exact window over the ≤ salt_k·cap survivors) —
  a 10⁹-row stratum never lands in one window partition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textops as T

# Gopher (Rae et al. 2021, table A1) thresholds
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MAX_DUP_LINE_FRAC = 0.3
GOPHER_MAX_TOP2GRAM_CHAR_FRAC = 0.20
GOPHER_MAX_DUP5GRAM_CHAR_FRAC = 0.15


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens (case/punctuation preserved — Gopher's word unit)."""
    return F.filter(F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+"),
                    lambda t: t != F.lit(""))


def kgrams(toks: Column, k: int) -> Column:
    """Strict word k-grams: empty array when the doc has < k words (unlike
    ``textops.shingles``, no whole-doc fallback — repetition stats over a
    doc shorter than the window are defined as 0)."""
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )).otherwise(F.array().cast("array<string>"))


def _top_gram(grams: Column) -> Column:
    """The most frequent gram (count ties → lexicographically smallest;
    null for an empty gram array) — one sorted run-length pass,
    O(n log n)/row. Strict ``run > best_run`` keeps the first (= smallest)
    gram of a tied count, matching the oracle's ORDER BY cnt DESC, gram."""
    zero = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best_run"),
                    F.lit(None).cast("string").alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        hit = run > acc["best_run"]
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.when(hit, run).otherwise(acc["best_run"]).alias("best_run"),
            F.when(hit, x).otherwise(acc["best"]).alias("best"))

    return F.aggregate(F.array_sort(grams), zero, step,
                       lambda acc: acc["best"])


def _dup_starts(grams: Column) -> Column:
    """Sorted 1-based start positions of every NON-FIRST occurrence of a
    duplicated gram. Sort (gram, idx) structs once; an element whose
    predecessor holds the same gram is a repeat occurrence. O(n log n)/row;
    ``_let`` binds the sorted array so per-element ``element_at`` does not
    re-sort (textops.winnow_fingerprints documents the inlining trap)."""
    m = F.size(grams)
    gidx = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.struct(F.element_at(grams, i).alias("g"), i.alias("i")))

    def repeats(srt: Column) -> Column:
        dup = F.transform(
            F.sequence(F.lit(2), F.size(srt)),
            lambda j: F.when(
                F.element_at(srt, j)["g"] == F.element_at(srt, j - 1)["g"],
                F.element_at(srt, j)["i"]))
        return F.array_sort(F.filter(dup, lambda x: x.isNotNull()))

    return F.when(m >= 2, T._let(F.array_sort(gidx), repeats)) \
        .otherwise(F.array().cast("array<int>"))


def _covered_chars(toks: Column, starts: Column, k: int) -> Column:
    """Characters of the words covered by the UNION of ``[s, s+k)`` word
    windows (``starts`` ascending, 1-based) — each character counted once
    however many windows overlap it. One sorted-interval sweep with a
    (next-uncovered, total) accumulator; each step sums only its not-yet-
    covered slice, so the row costs O(|starts|·k) length lookups."""
    zero = F.struct(F.lit(1).alias("nxt"), F.lit(0).alias("tot"))

    def step(acc, s):
        a = F.greatest(s, acc["nxt"])
        b = s + F.lit(k)
        seg = F.when(
            b > a,
            F.aggregate(F.slice(toks, a, b - a), F.lit(0),
                        lambda x, w: x + F.length(w))).otherwise(F.lit(0))
        return F.struct(F.greatest(acc["nxt"], b).alias("nxt"),
                        (acc["tot"] + seg).alias("tot"))

    return F.aggregate(starts, zero, step, lambda acc: acc["tot"])


def gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher/MassiveText quality-rule signal columns + the
    ``passes_gopher`` verdict. Pure per-row projection — zero exchanges, the
    whole signal block is one WholeStageCodegen span."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    # gram arrays + the selected top gram are bound as REAL columns: each
    # is referenced by several expressions below, and a column reference
    # (unlike an inlined expression tree) is computed once per row
    df = (df
          .withColumn("_toks", ws_tokens(t))
          .withColumn("_g2", kgrams(F.col("_toks"), 2))
          .withColumn("_g5", kgrams(F.col("_toks"), 5))
          .withColumn("_top2", _top_gram(F.col("_g2"))))
    toks = F.col("_toks")
    n_words = F.size(toks)
    nw = F.greatest(n_words, F.lit(1))
    chars_nospace = F.length(F.regexp_replace(t, r"\s", ""))
    cns = F.greatest(chars_nospace, F.lit(1))
    lines = F.filter(F.split(t, r"\n"),
                     lambda line: F.trim(line) != F.lit(""))
    n_lines = F.greatest(F.size(lines), F.lit(1))

    mean_word_len = F.round(chars_nospace / nw, 6)
    alpha_word_frac = F.round(
        F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}"))) / nw, 6)
    symbol_word_ratio = F.round(
        F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), F.lit(0))) / nw, 6)
    stop_hits = T.stopword_hits(t, "en")
    bullet_line_frac = F.round(
        F.size(F.filter(lines, lambda line: line.rlike(r"^\s*[-*•]")))
        / n_lines, 6)
    ellipsis_line_frac = F.round(
        F.size(F.filter(lines,
                        lambda line: line.rlike(r"(\.\.\.|…)\s*$")))
        / n_lines, 6)
    dup_line_frac = F.round(
        (F.size(lines) - F.size(F.array_distinct(lines))) / n_lines, 6)
    # §A1.1 coverage fractions (≤ 1.0 by construction — see module doc):
    # top-2-gram covers ALL of the top gram's occurrences; dup-5-gram
    # covers non-first occurrences of every duplicated gram
    top2_starts = F.when(
        F.col("_top2").isNotNull(),
        F.filter(F.sequence(F.lit(1), F.size(F.col("_g2"))),
                 lambda i: F.element_at(F.col("_g2"), i) == F.col("_top2"))
    ).otherwise(F.array().cast("array<int>"))
    top2 = F.round(_covered_chars(toks, top2_starts, 2) / cns, 6)
    dup5 = F.round(
        _covered_chars(toks, _dup_starts(F.col("_g5")), 5) / cns, 6)

    out = (df
           .withColumn("n_words", n_words.cast("long"))
           .withColumn("mean_word_len", mean_word_len)
           .withColumn("alpha_word_frac", alpha_word_frac)
           .withColumn("symbol_word_ratio", symbol_word_ratio)
           .withColumn("stop_hits", stop_hits.cast("long"))
           .withColumn("bullet_line_frac", bullet_line_frac)
           .withColumn("ellipsis_line_frac", ellipsis_line_frac)
           .withColumn("dup_line_frac", dup_line_frac)
           .withColumn("top2gram_char_frac", top2)
           .withColumn("dup5gram_char_frac", dup5)
           .drop("_toks", "_g2", "_g5", "_top2"))
    passes = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_WORD_RATIO)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("top2gram_char_frac") <= GOPHER_MAX_TOP2GRAM_CHAR_FRAC)
        & (F.col("dup5gram_char_frac") <= GOPHER_MAX_DUP5GRAM_CHAR_FRAC)
    )
    return out.withColumn("passes_gopher", passes)


def benchmark_grams(benchmark: DataFrame, k: int = 8,
                    text_col: str = "text") -> DataFrame:
    """Distinct normalized word k-grams of the benchmark set (the
    broadcast side of ``decontaminate``). Normalization = ``textops.tokens``
    (lowercase, punctuation-split), the standard decontamination canon."""
    return (benchmark
            .select(F.explode(kgrams(T.tokens(F.col(text_col)), k))
                    .alias("gram"))
            .distinct())


def decontaminate(docs: DataFrame, benchmark: DataFrame, k: int = 8,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-doc benchmark-overlap counts: docs sharing ≥1 normalized word
    k-gram with the benchmark set, with distinct-gram and occurrence counts.

    Plan: corpus explode(grams) ⋈ **broadcast**(distinct benchmark grams) →
    groupBy(doc). The corpus side never shuffles (broadcast hash join), and
    the per-doc count aggregates with map-side partials over the join
    output, which is proportional to actual contamination, not corpus size.
    Docs with zero overlap are absent (inner-join semantics) — at 100 TB you
    anti-join this result against the corpus, you don't materialize zeros.
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(kgrams(T.tokens(F.col(text_col)), k)).alias("gram"))
    hits = grams.join(F.broadcast(benchmark_grams(benchmark, k, text_col)),
                      "gram")
    return (hits.groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_hit_grams"),
                 F.count("*").alias("n_hit_occurrences"))
            .withColumn("contaminated", F.lit(True)))


def line_frequencies(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     min_len: int = 1) -> DataFrame:
    """Corpus-wide line document-frequency: (line_hash, n_docs). The
    boilerplate-detection aggregate of C4/CCNet — a line appearing in many
    documents is chrome (nav bars, cookie banners), not content.

    Lines are normalized (trim + lowercase + whitespace-collapse) and
    md5-hashed BEFORE the shuffle, so the exchange carries 32-byte hashes,
    never line text; `count_distinct(doc)` aggregates with map-side
    partials. md5 keeps the hash portable to the DuckDB oracle."""
    lines = (docs.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")),
                                   r"\n"),
                           lambda ln: F.length(F.trim(ln)) >= min_len))
        .alias("line"))
        .select(id_col,
                F.md5(F.trim(F.regexp_replace(F.lower(F.col("line")),
                                              r"\s+", " ")))
                .alias("line_hash")))
    return (lines.groupBy("line_hash")
            .agg(F.count_distinct(id_col).alias("n_docs")))


def strip_boilerplate_lines(docs: DataFrame, min_doc_freq: int,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            freqs: DataFrame | None = None) -> DataFrame:
    """Remove lines appearing in ≥ ``min_doc_freq`` distinct documents
    (C4's boilerplate rule), preserving line order of the survivors.

    **Blank-line normalization (disclosed):** blank/whitespace-only lines
    are dropped from ``clean_text`` unconditionally — even for docs with
    zero boilerplate hits (``n_lines_removed`` counts only frequent-set
    removals, blank lines are excluded from both ``size()`` terms). This
    mirrors ``line_frequencies``'s min_len gate so the two stages agree on
    what a "line" is; callers needing paragraph structure should keep the
    original ``text`` column (the oracle mirrors the same convention).

    The frequent-line set is tiny (boilerplate is by definition a small set
    of very common lines), so it is **broadcast**; each doc is then cleaned
    in a single per-row projection — explode-free: the doc's line array is
    filtered against the broadcast set via an array_contains lambda after a
    collect_list-free local join shape. Implementation: per-row filter
    against the broadcast frequent-hash array (array membership on a sorted
    broadcast list), then re-join lines with '\\n'. No shuffle of document
    text at any point."""
    if freqs is None:
        freqs = line_frequencies(docs, id_col, text_col)
    frequent = (freqs.filter(F.col("n_docs") >= min_doc_freq)
                .select("line_hash"))
    # broadcast the frequent set as a one-row array and cross-join it in
    # (BroadcastNestedLoopJoin of a single row = a plan-level literal)
    freq_arr = frequent.agg(
        F.array_sort(F.collect_list("line_hash")).alias("_bad"))
    lines = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n"),
                     lambda ln: F.length(F.trim(ln)) > 0)
    keep = F.filter(
        lines,
        lambda ln: ~F.array_contains(
            F.col("_bad"),
            F.md5(F.trim(F.regexp_replace(F.lower(ln), r"\s+", " ")))))
    return (docs.join(F.broadcast(freq_arr))
            .withColumn("clean_text", F.concat_ws("\n", keep))
            .withColumn("n_lines_removed",
                        (F.size(lines) - F.size(keep)).cast("long"))
            .drop("_bad"))


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    model: DataFrame | None = None) -> DataFrame:
    """Per-doc mean unigram log₁₀-probability under a corpus-derived
    unigram LM — the CCNet perplexity-bucket analog without KenLM: fluent,
    typical text scores high; gibberish and rare-token soup scores low.

    Two stages, both scale-safe:
    1. model build (or pass ``model``): token → count over the corpus,
       groupBy with map-side partials; vocab is Zipf-bounded (~10⁶ rows at
       any corpus size), add-one smoothed.
    2. scoring: explode doc tokens ⋈ **broadcast**(model) → per-doc
       mean(log10 p). Unknown tokens get the smoothed floor
       log10(1 / (total + V)). Docs with no tokens are absent (inner-join
       semantics over exploded tokens).

    The mean is computed over nano-quantized logprobs
    (``floor(logp·10⁹)`` summed as longs): long addition is
    order-independent, so the result is bit-identical across partitionings
    and engines — double summation order would differ between Spark's
    partial aggregates and the oracle.
    """
    toks = docs.select(F.col(id_col),
                       F.explode(T.tokens(F.col(text_col))).alias("tok"))
    if model is None:
        # Zipf-bounded table, but its lineage is a full corpus tokenize —
        # materialize once so the broadcast and the totals agg don't each
        # re-run the corpus scan
        model = toks.groupBy("tok").agg(F.count("*").alias("cnt")) \
            .localCheckpoint(eager=True)
    totals = model.agg(F.sum("cnt").alias("total"),
                       F.count("*").alias("vocab"))
    scored = (toks
              .join(F.broadcast(model), "tok", "left")
              .join(F.broadcast(totals))
              .withColumn("logp_nano", F.floor(F.log10(
                  (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                  / (F.col("total") + F.col("vocab"))) * 1e9).cast("long")))
    return (scored.groupBy(id_col)
            .agg(F.round(F.sum("logp_nano") / F.count("*") / 1e9, 6)
                 .alias("mean_logprob"),
                 F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_oov")))


def stratified_sample(df: DataFrame, strata_col: str, cap: int,
                      key_col: str, salt_k: int | None = None) -> DataFrame:
    """Deterministic per-stratum sample: the ``cap`` rows with the smallest
    ``md5(key)`` per stratum, ranked. md5 ordering makes the sample
    reproducible across runs, partitionings, and engines (the DuckDB oracle
    computes the identical sample).

    ``salt_k`` enables the mega-stratum-safe two-phase ranking (same guard
    as ``politeness.schedule_round``): first keep the top-``cap`` per
    (stratum, salt) — salt = md5-derived, ``salt_k`` buckets — then run the
    exact per-stratum window over ≤ ``salt_k · cap`` survivors. The
    per-stratum top-cap is invariant under the pre-prune (each survivor set
    contains its stratum-global top-cap), so results are identical; no
    single task ever sorts a 10⁹-row stratum.

    Note: on Spark ≥3.5 the exact path's ``row_number() ≤ cap`` filter
    already triggers the WindowGroupLimit rewrite (a *partial* per-map-task
    top-``cap`` before the exchange — visible in the physical plan), so the
    reduce-side window sees ≤ cap rows per upstream task even without
    salting. ``salt_k`` stays for plans where the rank filter is not
    directly above the window (e.g. a CASE label instead of a filter, as in
    ``schedule_round``) and the rewrite cannot fire; default None.
    """
    h = F.md5(F.col(key_col).cast("string"))
    work = df.withColumn("_h", h)
    if salt_k:
        salt = (F.conv(F.substring(F.col("_h"), 1, 4), 16, 10)
                .cast("long") % salt_k)
        wp = (Window.partitionBy(F.col(strata_col), salt)
              .orderBy(F.col("_h"), F.col(key_col)))
        work = (work.withColumn("_pr", F.row_number().over(wp))
                .filter(F.col("_pr") <= cap).drop("_pr"))
    w = Window.partitionBy(strata_col).orderBy(F.col("_h"), F.col(key_col))
    return (work.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= cap)
            .drop("_h"))


def lm_buckets(scored: DataFrame, strata_col: str = "lang",
               score_col: str = "mean_logprob",
               id_col: str = "doc_id") -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020 §4.3):
    within each language, the most-LM-fluent third of documents is
    ``head``, the middle third ``middle``, the rest ``tail`` — the
    standard quality stratification before mixing training data.

    Deliberately NOT ``ntile(3)``: a rank window partitioned by language
    sorts each language's entire corpus in one task (a mega-partition at
    100 TB — English alone would be ~half the data). Instead the exact
    per-language tercile thresholds come from one ``percentile`` hash
    aggregation (map-side partials, rows ∝ languages), are broadcast back,
    and assignment is a per-row comparison — zero global sorts, one
    shuffle on the language key at language cardinality. Boundary ties all
    land in the higher bucket (``>=``), so assignment is deterministic
    without a tie-break column.
    """
    # scored feeds both the threshold agg and the assignment join; its
    # lineage is typically a full LM scoring pass — materialize the
    # (id, stratum, score) projection once instead of scoring twice
    scored = scored.select(id_col, strata_col, score_col) \
        .localCheckpoint(eager=True)
    thresholds = scored.groupBy(strata_col).agg(
        F.expr(f"percentile({score_col}, array(1.0D/3.0D, 2.0D/3.0D))")
        .alias("_t"))
    return (scored.join(F.broadcast(thresholds), strata_col)
            .select(id_col, strata_col, score_col,
                    F.when(F.col(score_col) >= F.element_at("_t", 2),
                           "head")
                    .when(F.col(score_col) >= F.element_at("_t", 1),
                          "middle")
                    .otherwise("tail").alias("bucket")))


# --------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169)
# --------------------------------------------------------------------------

def _hex_int(col: Column, start: int, n: int) -> Column:
    """Integer value of ``n`` hex digits of a hex string starting at 1-based
    ``start`` — the portable md5→int idiom (n ≤ 15 keeps it in a long)."""
    return F.conv(F.substring(col, start, n), 16, 10).cast("long")


def _dsir_grams(text_col: str) -> Column:
    """Unigrams + bigrams (the paper's hashed n-gram feature set)."""
    toks = T.tokens(F.col(text_col))
    return F.concat(toks, kgrams(toks, 2))


def dsir_importance(raw: DataFrame, target: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    hash_digits: int = 2,
                    gumbel_seed: str = "dsir") -> DataFrame:
    """Per-document DSIR importance weights: hashed-ngram bag models of the
    target and raw distributions, log importance ratio summed over each raw
    document's gram occurrences, plus a deterministic Gumbel perturbation
    for top-k sampling (Gumbel-max trick ⇒ sampling without replacement
    ∝ importance weight).

    Feature space: unigram+bigram tokens hashed into ``16**hash_digits``
    buckets via the leading md5 hex digits (portable to the DuckDB oracle).
    Models are add-one smoothed over the full bucket space. All log-ratio
    arithmetic is nano-quantized to integers (``floor(ln(·)·1e9)``) so doc
    scores are order-independent, partitioning-independent, and
    bit-identical across engines — the same convention as
    ``unigram_logprob``.

    Output per raw doc: ``n_grams``, ``logw_nano`` (Σ occurrences×log-ratio),
    ``gumbel_nano`` (from md5(seed:doc_id), exactly-representable dyadic u),
    ``key_nano`` (= logw + gumbel; the Gumbel-top-k sort key).

    Scale shape: two bucket-cardinality aggregations (≤ 16**hash_digits
    rows each) fit the models; the model is **broadcast** back; scoring is
    explode → broadcast-join → one groupBy on the doc id (map-side partial
    sums of longs). The corpus text itself is never shuffled. Selection
    should use ``dsir_sample`` (TakeOrdered top-k, no global sort).
    """
    n_buckets = 16 ** hash_digits
    bucket = lambda g: _hex_int(F.md5(g), 1, hash_digits)  # noqa: E731

    def bucket_counts(df: DataFrame) -> DataFrame:
        return (df.select(F.explode(_dsir_grams(text_col)).alias("g"))
                .select(bucket(F.col("g")).alias("b"))
                .groupBy("b").agg(F.count(F.lit(1)).alias("cnt")))

    # ≤ 16**hash_digits rows each, but their lineage is a full corpus /
    # target tokenize — materialize once so the totals aggs and the model
    # join don't each re-run the scans (lazily: raw tokenized 3×, target 2×)
    tc = bucket_counts(target).localCheckpoint(eager=True)
    rc = bucket_counts(raw).localCheckpoint(eager=True)
    tot_t = tc.agg(F.sum("cnt").alias("t")).select("t")
    tot_r = rc.agg(F.sum("cnt").alias("r")).select("r")
    # add-one smoothing over the FULL bucket space; only buckets observed
    # somewhere matter (a gram scored below always hits a raw-side bucket)
    model = (tc.withColumnRenamed("cnt", "tcnt")
             .join(rc.withColumnRenamed("cnt", "rcnt"), "b", "full")
             .crossJoin(F.broadcast(tot_t)).crossJoin(F.broadcast(tot_r))
             .select(
                 "b",
                 F.floor(
                     (F.log((F.coalesce("tcnt", F.lit(0)) + 1)
                            / (F.col("t") + n_buckets))
                      - F.log((F.coalesce("rcnt", F.lit(0)) + 1)
                              / (F.col("r") + n_buckets))) * 1e9)
                 .cast("long").alias("lograt_nano")))

    per_gram = (raw.select(F.col(id_col),
                           F.explode_outer(_dsir_grams(text_col)).alias("g"))
                .withColumn("b", bucket(F.col("g")))
                .join(F.broadcast(model), "b", "left"))
    scored = per_gram.groupBy(id_col).agg(
        F.count("g").alias("n_grams"),
        F.coalesce(F.sum("lograt_nano"), F.lit(0)).alias("logw_nano"))

    # Gumbel key from an exactly-representable dyadic rational: u =
    # (first-12-hex-digits-of-md5 + 0.5) / 16^12 ∈ (0,1) exactly, so both
    # engines evaluate -ln(-ln(u)) on identical doubles.
    u = ((_hex_int(F.md5(F.concat(F.lit(gumbel_seed + ":"),
                                  F.col(id_col).cast("string"))), 1, 12)
          + F.lit(0.5)) / F.lit(float(16 ** 12)))
    return (scored
            .withColumn("gumbel_nano",
                        F.floor(-F.log(-F.log(u)) * 1e9).cast("long"))
            .withColumn("key_nano",
                        F.col("logw_nano") + F.col("gumbel_nano")))


def dsir_sample(raw: DataFrame, target: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                hash_digits: int = 2,
                gumbel_seed: str = "dsir") -> DataFrame:
    """Gumbel-top-k DSIR selection: the ``k`` raw docs with the largest
    ``key_nano`` (deterministic tie-break on the id). Executes as
    TakeOrdered (distributed per-partition top-k + driver merge of k·P
    rows) — NO global sort task, so it survives a 10^10-doc corpus."""
    scored = dsir_importance(raw, target, id_col, text_col,
                             hash_digits, gumbel_seed)
    top = scored.orderBy(F.col("key_nano").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("key_nano").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


# --------------------------------------------------------------------------
# within-document exact line dedup (Dolma/C4 in-doc repetition removal)
# --------------------------------------------------------------------------

def dedup_lines_within_doc(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Drop exact-duplicate normalized lines AFTER their first occurrence
    within each document (the in-document counterpart of the cross-corpus
    C4 boilerplate rule — catches nav blocks, repeated CTAs, scraper
    stutter). Same line conventions as ``line_frequencies`` /
    ``strip_boilerplate_lines``: blank/whitespace-only lines are dropped
    unconditionally and excluded from both counts; duplicate identity is
    md5 of the lowercased whitespace-collapsed line.

    ZERO-SHUFFLE: a per-row codegen projection. Line hashes are let-bound
    (``_let``) so the keep test — ``array_position(hashes, hashes[i]) ==
    i`` (first occurrence keeps its slot) — scans the row's own hash array
    instead of recomputing the md5 transform per element (the O(n²·md5)
    inlining trap documented on ``winnow_fingerprints``).
    """
    lines = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n"),
        lambda ln: F.length(F.trim(ln)) > 0)
    norm = lambda ln: F.md5(  # noqa: E731
        F.trim(F.regexp_replace(F.lower(ln), r"\s+", " ")))
    kept = T._let(lines, lambda L: T._let(
        F.transform(L, norm),
        lambda H: F.filter(
            L, lambda ln, i: F.array_position(
                H, F.element_at(H, i + 1)) == (i + 1).cast("long"))))
    return (docs
            .withColumn("_kept", kept)
            .withColumn("_nl", F.size(lines))
            .select(id_col,
                    F.concat_ws("\n", F.col("_kept")).alias("clean_text"),
                    (F.col("_nl") - F.size("_kept")).cast("long")
                    .alias("n_lines_removed")))


# --------------------------------------------------------------------------
# training-sequence packing (GPT-style contiguous token stream)
# --------------------------------------------------------------------------

def _with_stream_offsets(sized: DataFrame, id_col: str) -> DataFrame:
    """Global exclusive prefix sum of ``n_tokens`` in ``id_col`` order,
    WITHOUT a one-partition window: range-partition on the id, sort within
    partitions, collect ONE long per partition (the partition token
    subtotal), broadcast the exclusive partition offsets, and assign
    per-row offsets in a map-only ``mapInPandas`` cumsum — the same
    two-phase shape as ``politeness.with_global_order``. One range
    exchange total; the collect is O(#partitions), never rows.

    Returns ``sized`` + ``start_tok``; the frame carries the materialized
    cache on ``_pack_cache`` (the offsets were computed against THIS
    range partitioning — repartitionByRange samples boundaries, so a
    recompute could repartition differently; callers unpersist the handle
    once output is materialized, same convention as with_global_order).

    The per-row assignment is ``mapInArrow``, not ``mapInPandas``: the
    cumsum itself touches only the ``n_tokens`` int64 column, while the
    other columns (for pack_emit, the full token-id list array — the bulk
    of the bytes) pass through as Arrow buffers untouched. The pandas path
    objectified every list cell into a Python object on the way in and
    back out; Arrow appends one int64 column to the batch and never
    materializes the lists (guide §4.2: re-slice/extend Arrow buffers,
    don't convert them).
    """
    from pyspark.sql import types as ST

    sized = (sized
             .repartitionByRange(id_col)
             .sortWithinPartitions(id_col)
             .cache())
    parts = (sized.groupBy(F.spark_partition_id().alias("__pid"))
             .agg(F.sum("n_tokens").alias("s"))
             .orderBy("__pid").collect())
    offsets, acc = {}, 0
    for row in parts:
        offsets[row["__pid"]] = acc
        acc += row["s"]

    out_schema = ST.StructType(
        list(sized.schema.fields) + [ST.StructField("start_tok",
                                                    ST.LongType())])

    def _assign(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        pos = offsets.get(TaskContext.get().partitionId(), 0)
        for batch in batches:
            n = batch.column("n_tokens").to_numpy(zero_copy_only=False)
            ends = np.cumsum(n, dtype=np.int64) + np.int64(pos)
            start = pa.array(ends - n, type=pa.int64())
            if len(n):
                pos = int(ends[-1])
            yield batch.append_column("start_tok", start)

    out = sized.mapInArrow(_assign, out_schema)
    out._pack_cache = sized
    return out


def pack_sequences(docs: DataFrame, seq_len: int,
                   id_col: str = "doc_id", text_col: str = "text",
                   tokens_fn=None) -> DataFrame:
    """Pack documents (in ``id_col`` order) into a contiguous token stream
    cut into fixed ``seq_len`` training sequences — the standard
    concat-and-chunk batching for LM training. Output per doc: its token
    count, its absolute offset in the stream (``start_tok``) and the
    first/last sequence ids it lands in (docs may span boundaries, exactly
    like the packed-stream convention). Prefix-sum shape: see
    ``_with_stream_offsets``.
    """
    count_tokens = tokens_fn or T.token_count_ws
    packed = _with_stream_offsets(
        docs.select(F.col(id_col), count_tokens(F.col(text_col))
                    .cast("long").alias("n_tokens")), id_col)
    first = F.expr(f"start_tok DIV {seq_len}")
    last = F.when(
        F.col("n_tokens") == 0, first).otherwise(
        F.expr(f"(start_tok + n_tokens - 1) DIV {seq_len}"))
    out = packed.select(
        id_col, "n_tokens", "start_tok",
        first.alias("first_seq"), last.alias("last_seq"))
    out._pack_cache = packed._pack_cache
    return out


def pack_emit(docs: DataFrame, seq_len: int, vocab: int = 32768,
              pad_id: int = 0, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Materialize the packed training batches: the token stream (docs
    concatenated in ``id_col`` order, tokens hashed to ``vocab`` ids) cut
    into fixed-length sequences → one row per sequence
    ``(seq_id, n_filled, input_ids)``, the tail sequence padded with
    ``pad_id`` — i.e. the actual `input_ids` tensor feed, not just the
    offsets.

    Plan (no per-token explode): after the two-phase prefix sum
    (``_with_stream_offsets``), each doc emits one row per sequence it
    SPANS (≈ n_docs + total_tokens/seq_len rows, each carrying an
    `array_slice` of the doc's id array — never one row per token), then
    one shuffle on ``seq_id`` reassembles each sequence with
    ``sort_array(collect_list(struct(start_tok, piece)))`` + ``flatten``.
    Shuffle volume is exactly the token-id stream once — the lower bound
    for any repacking — and each reduce group is ≤ seq_len ids plus a
    handful of struct headers.
    """
    ids = F.transform(
        T.tokens(F.col(text_col)),
        lambda t: (_hex_int(F.md5(t), 1, 8) % vocab).cast("long"))
    # Decide on small rows, move big rows once (guide §8): the prefix sum
    # runs over a NARROW (id, n_tokens) proxy — token COUNTS need no
    # md5-hashed ids, so the counting pass tokenizes without hashing —
    # and the offsets attach back to the id arrays with one equi-join.
    # The former shape ranged-exchanged, cached and round-tripped the full
    # token-id arrays through the Python worker just to add a cumsum
    # column. At local scale AQE broadcasts the metadata-sized offset
    # table; at cluster scale the join degrades to one SMJ that moves the
    # ids exactly once — the same bytes the old range exchange moved, with
    # no Arrow payload round-trip and no payload-sized cache.
    narrow = docs.select(
        F.col(id_col),
        F.size(T.tokens(F.col(text_col))).cast("long").alias("n_tokens"))
    packed = _with_stream_offsets(narrow, id_col)
    joined = (docs.select(F.col(id_col), ids.alias("ids"))
              .join(packed, id_col))
    first = F.expr(f"start_tok DIV {seq_len}")
    last = F.expr(f"(start_tok + n_tokens - 1) DIV {seq_len}")
    spans = (joined.filter(F.col("n_tokens") > 0)
             .select("ids", "start_tok", "n_tokens",
                     F.explode(F.sequence(first, last)).alias("seq_id"))
             .select(
                 "seq_id", "start_tok",
                 F.expr(f"slice(ids, "
                        f"greatest(seq_id * {seq_len} - start_tok, 0L) + 1, "
                        f"least((seq_id + 1) * {seq_len} - start_tok, "
                        f"n_tokens) - "
                        f"greatest(seq_id * {seq_len} - start_tok, 0L))")
                 .alias("piece")))
    assembled = (spans.groupBy("seq_id")
                 .agg(F.flatten(F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("start_tok", "piece"))),
                     lambda s: s["piece"])).alias("filled")))
    out = assembled.select(
        "seq_id",
        F.size("filled").cast("long").alias("n_filled"),
        F.concat(
            F.col("filled"),
            F.expr(f"array_repeat(CAST({pad_id} AS BIGINT), "
                   f"{seq_len} - size(filled))")).alias("input_ids"))
    out._pack_cache = packed._pack_cache
    return out


# --------------------------------------------------------------------------
# fastText-style hashed linear quality classifier
# --------------------------------------------------------------------------

FASTTEXT_BUCKETS = 4096
FASTTEXT_THRESHOLD_MICRO = 500_000


def fasttext_score(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   n_buckets: int = FASTTEXT_BUCKETS,
                   threshold_micro: int = FASTTEXT_THRESHOLD_MICRO,
                   ) -> DataFrame:
    """fastText-architecture quality classifier inference (Joulin et al.
    2016): tokens → hashed embedding buckets → mean of bucket weights →
    sigmoid — the standard LLM-data quality gate (CCNet/LLaMA-style
    "looks-like-Wikipedia" filters run exactly this shape at corpus scale).

    The model here is a deterministic stand-in (bucket weight derived from
    the bucket id by a Weyl multiplier, milli-quantized to [-1000, 1000]);
    swapping in trained weights is a broadcast map lookup with the same
    plan. What is real and load-bearing is the Spark shape: the entire
    inference is a **zero-shuffle column projection** (md5 bucket hash,
    lambda-transform weight lookup, long-sum fold, one sigmoid), fully
    whole-stage-codegen, so it streams at scan speed over 100 TB — no
    explode, no join, no Python.

    Parity: the token weight sum is an integer (milli-units) long fold —
    order-independent, bit-identical to the oracle; the only float ops are
    one division and one sigmoid at the end (IEEE-identical across
    engines to < 1e-10, quantized to micro).
    """
    toks = T.tokens(F.col(text_col))
    weight = lambda t: (  # noqa: E731
        (_hex_int(F.md5(t), 1, 8) % n_buckets)
        * F.lit(2654435761) % 2001 - 1000).cast("long")
    step1 = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(F.transform(toks, weight), F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("w_sum"))
    logit = F.col("w_sum") / (F.col("n_tokens") * 1000.0)
    score_micro = F.when(F.col("n_tokens") == 0, F.lit(500_000)) \
        .otherwise(F.round(F.lit(1e6) / (F.lit(1.0) + F.exp(-logit)))) \
        .cast("long")
    return step1.select(
        id_col, "n_tokens", "w_sum",
        score_micro.alias("score_micro"),
        ((F.col("n_tokens") > 0)
         & (score_micro >= threshold_micro)).alias("keep"))


# --------------------------------------------------------------------------
# corpus mixing: rebalance source shares by deterministic subsampling
# --------------------------------------------------------------------------

def mix_rebalance(docs: DataFrame, target_ppm: dict[str, int] | None = None,
                  strata_col: str = "source", id_col: str = "doc_id",
                  text_col: str = "text", seed: str = "mix") -> DataFrame:
    """Data-mixing rebalance: subsample each stratum (source/domain/lang)
    so the SURVIVING corpus's token shares match ``target_ppm`` (parts per
    million per stratum; default uniform over observed strata), without
    upsampling — the most-underrepresented stratum is kept whole and every
    other stratum's acceptance probability scales down proportionally.

    Per-doc accept decisions are deterministic (md5(seed:doc_id) as the
    uniform draw), so the sample is reproducible across runs, engines and
    partitionings — the property a resumable 100 TB mixing job needs.

    Plan shape: one map-side-combined agg at stratum cardinality (≤ a few
    thousand rows for any real corpus), the stratum table closed over
    driver-side arithmetic-free broadcast joins, and the corpus itself is
    touched by exactly one zero-shuffle projection — never shuffled.

    Integer/ulp parity: per-stratum rates are exact bigint rationals
    scaled to 1e9 (``r = target_ppm·1e9 DIV src_tokens``); the final
    normalization is one IEEE double multiply+divide (correctly rounded in
    both engines), floored to ppm.
    """
    sized = docs.select(
        F.col(id_col), F.col(strata_col),
        T.token_count_ws(F.col(text_col)).cast("long").alias("n_tokens"))
    # stratum-cardinality table, but its lineage is a corpus token-count
    # pass — materialize once; lazily it re-expands into the target, rate,
    # and rmax branches (3+ corpus scans)
    tot = sized.groupBy(strata_col).agg(
        F.sum("n_tokens").alias("src_tokens")).localCheckpoint(eager=True)
    if target_ppm is None:
        n_strata = tot.agg(F.count("*").alias("n_strata"))
        tgt = tot.crossJoin(F.broadcast(n_strata)).withColumn(
            "target_ppm", F.expr("1000000 DIV n_strata")).drop("n_strata")
    else:
        tmap = tot.sparkSession.createDataFrame(
            list(target_ppm.items()), f"{strata_col} string, target_ppm long")
        tgt = tot.join(F.broadcast(tmap), strata_col, "inner")
    r = tgt.withColumn(
        "rate_e9",
        F.when(F.col("src_tokens") > 0,
               F.expr("target_ppm * 1000000000L DIV src_tokens"))
        .otherwise(F.lit(0)).cast("long"))
    rmax = r.agg(F.max("rate_e9").alias("rmax"))
    acc = (r.crossJoin(F.broadcast(rmax))
           .withColumn(
               "accept_ppm",
               # rate == rmax must yield EXACTLY 1e6 (kept whole): the
               # double product rate·1e6 (~1e21) rounds below 2^53
               # granularity and can floor to 999999 — caught by the
               # mix_rebalance property test
               F.when((F.col("rate_e9") == F.col("rmax"))
                      & (F.col("rate_e9") > 0), F.lit(1_000_000))
               .when(F.col("rmax") > 0,
                     F.floor(F.col("rate_e9").cast("double") * 1e6
                             / F.col("rmax")))
               .otherwise(F.lit(0)).cast("long"))
           .select(strata_col, "src_tokens", "target_ppm", "accept_ppm"))
    draw = _hex_int(F.md5(F.concat(F.lit(seed + ":"),
                                   F.col(id_col).cast("string"))),
                    1, 8) % 1_000_000
    return (sized.join(F.broadcast(acc), strata_col)
            .select(id_col, strata_col, "n_tokens", "accept_ppm",
                    (draw < F.col("accept_ppm")).alias("keep")))


# --------------------------------------------------------------------------
# vocabulary construction (tokenizer training's counting pass)
# --------------------------------------------------------------------------

def build_vocab(docs: DataFrame, size: int, min_count: int = 1,
                text_col: str = "text") -> DataFrame:
    """Frequency-ranked vocabulary over the corpus — the counting pass of
    tokenizer/vocab training: token → corpus count, top ``size`` by
    (count desc, token asc) with stable ids 0..size-1 (ties broken
    lexicographically, so ids are deterministic across runs/engines).

    Plan: explode → hash-agg with map-side partials (the shuffle carries
    one (token, partial_count) pair per distinct token per partition, not
    per occurrence), then the top-``size`` cut is TakeOrderedAndProject —
    no global sort materializes beyond the k survivors. Vocab sizes are
    ≤ a few 100k at any corpus scale, so the final rank window over the
    k survivors is trivially small.
    """
    counts = (docs
              .select(F.explode(T.tokens(F.col(text_col))).alias("token"))
              .groupBy("token").agg(F.count("*").alias("n"))
              .filter(F.col("n") >= min_count))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(size)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "token", F.col("n").cast("long").alias("n"))


def assign_shards(docs: DataFrame, shard_bytes: int,
                  id_col: str = "doc_id", text_col: str = "text",
                  ) -> DataFrame:
    """Deterministic output sharding: docs in ``id_col`` order stream into
    fixed-size byte shards (the "write ~1 GB parquet shards" step of a
    corpus export) — per doc its byte offset, shard id, and whether it
    straddles a shard boundary. Same two-phase prefix-sum shape as
    ``pack_sequences`` (one range exchange; the collect is O(#partitions));
    the shard id then drives `.repartition(shard)`/partitionBy at write
    time so each output task owns whole shards.
    """
    packed = _with_stream_offsets(
        docs.select(F.col(id_col),
                    F.length(F.coalesce(F.col(text_col), F.lit("")))
                    .cast("long").alias("n_tokens")), id_col)
    start = F.col("start_tok")
    out = packed.select(
        id_col, F.col("n_tokens").alias("n_bytes"),
        start.alias("start_byte"),
        F.expr(f"start_tok DIV {shard_bytes}").alias("shard"),
        (F.when(F.col("n_tokens") == 0, F.lit(False)).otherwise(
            F.expr(f"start_tok DIV {shard_bytes} != "
                   f"(start_tok + n_tokens - 1) DIV {shard_bytes}")))
        .alias("straddles"))
    out._pack_cache = packed._pack_cache
    return out


# --------------------------------------------------------------------------
# WordPiece tokenizer application (the "apply vocab" half of tokenization;
# build_vocab above is the counting half)
# --------------------------------------------------------------------------

_WP_CONT = "##"


def wordpiece_vocab(docs: DataFrame, top_words: int = 25,
                    text_col: str = "text",
                    alphabet: str = "abcdefghijklmnopqrstuvwxyz",
                    ) -> DataFrame:
    """A deterministic WordPiece vocabulary: the ``top_words`` most
    frequent corpus tokens kept whole (``build_vocab``'s count-desc,
    token-asc rank) plus an ``alphabet`` of single characters in both
    initial (``c``) and continuation (``##c``) form — the character
    fallback that makes greedy matching total over the alphabet. Words
    containing out-of-alphabet characters (and not frequent enough to be
    whole pieces) become ``[UNK]``, exactly HuggingFace WordPiece's
    whole-word unk rule. Returns one ``piece`` column, distinct."""
    spark = docs.sparkSession
    top = build_vocab(docs, size=top_words, text_col=text_col) \
        .select(F.col("token").alias("piece"))
    chars = spark.createDataFrame(
        [(c,) for c in alphabet] + [(_WP_CONT + c,) for c in alphabet],
        "piece string")
    return top.unionByName(chars).distinct()


def _wp_greedy(word: str, vocab: frozenset, max_chars: int):
    """Greedy longest-match-first WordPiece encode of one word; None on
    failure (→ whole-word [UNK]). Pure function — unit-testable without
    Spark; the pandas UDF below maps it over Arrow batches."""
    if len(word) > max_chars:
        return None
    pieces, pos = [], 0
    while pos < len(word):
        end, cur = len(word), None
        while end > pos:
            sub = word[pos:end]
            if pos > 0:
                sub = _WP_CONT + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            return None
        pieces.append(cur)
        pos = end
    return pieces


def wordpiece_encode(docs: DataFrame, vocab: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     unk: str = "[UNK]",
                     max_word_chars: int = 100) -> DataFrame:
    """Apply a WordPiece vocabulary to the corpus: greedy longest-match-
    first subword split per word (HF WordPiece semantics — ``##``
    continuation pieces, whole-word ``[UNK]`` when any position fails or
    the word exceeds ``max_word_chars``).

    Scale shape: the vocab is a bounded codebook (≤ a few 100k pieces at
    any corpus scale — same broadcast discipline as the IVF codebook), so
    it is collected once and shipped to executors as a broadcast
    frozenset; pre-tokenization stays JVM-side (``textops.tokens``, the
    exact tokens ``build_vocab`` counted); the encode itself is one
    Arrow-batched pandas UDF pass — zero shuffles, the hot loop is a set
    probe per (pos, end) candidate, O(word_len²) worst-case with
    word_len ≤ ``max_word_chars``. Real tokenizers are native libraries
    driven exactly this way (mapInPandas/pandas UDF over a broadcast
    tokenizer file); this is the library-free analog with identical
    plumbing.

    Output: one row per doc — ``n_pieces``, ``n_unk_words``,
    ``piece_sig`` (md5 of the space-joined piece stream, value-checking
    the exact sequence)."""
    from pyspark.sql import types as ST
    from pyspark.sql.functions import pandas_udf

    pieces = frozenset(
        r["piece"] for r in vocab.select("piece").collect())
    bc = docs.sparkSession.sparkContext.broadcast(pieces)

    out_t = ST.StructType([
        ST.StructField("pieces", ST.StringType()),
        ST.StructField("n_pieces", ST.LongType()),
        ST.StructField("n_unk_words", ST.LongType()),
    ])

    @pandas_udf(out_t)
    def _encode(tok_ser: pd.Series) -> pd.DataFrame:  # pragma: no cover
        vo = bc.value
        rows = []
        for toks in tok_ser:
            out, unks = [], 0
            for w in (toks if toks is not None else []):
                ps = _wp_greedy(w, vo, max_word_chars)
                if ps is None:
                    out.append(unk)
                    unks += 1
                else:
                    out.extend(ps)
            rows.append((" ".join(out), len(out), unks))
        return pd.DataFrame(rows,
                            columns=["pieces", "n_pieces", "n_unk_words"])

    return (docs
            .select(F.col(id_col), T.tokens(F.col(text_col)).alias("_tk"))
            .withColumn("_e", _encode("_tk"))
            .select(id_col,
                    F.col("_e.n_pieces").alias("n_pieces"),
                    F.col("_e.n_unk_words").alias("n_unk_words"),
                    F.md5(F.col("_e.pieces")).alias("piece_sig")))


# --------------------------------------------------------------------------
# readability (quality_scoring.py analog)
# --------------------------------------------------------------------------


def _syllables(word: Column) -> Column:
    """The reference's syllable heuristic (quality_scoring.py:97-119):
    count vowel groups ([aeiouy]+ runs) in the lowercased word, subtract
    one for a trailing silent 'e' when more than one group, floor at 1."""
    lw = F.lower(word)
    groups = F.size(F.regexp_extract_all(lw, F.lit("[aeiouy]+"), F.lit(0)))
    adj = F.when(lw.endswith("e") & (groups > 1), groups - 1) \
        .otherwise(groups)
    return F.greatest(F.lit(1), adj)


def readability(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Flesch Reading Ease + the reference's readability insights
    (calculate_readability_score, quality_scoring.py:41-94) as one
    zero-shuffle codegen projection: words = whitespace split, sentences
    = non-blank [.!?]+ splits, syllables = per-word vowel-group counts
    summed with an exact integer array fold, paragraphs = '\\n\\n'
    splits (unfiltered, the reference counts empties).

    ``flesch = clamp(206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), 0, 100)`` — every input an exact integer, so
    the double expression evaluates identically on both engines. Letter
    ``grade`` follows get_quality_grade's 85/70/50/30 bands
    (quality_scoring.py:522-533; the reference grades its composite
    score — applying the bands to flesch is this operator's disclosed
    reading). Insight strings become boolean flag columns (same
    predicates, quality_scoring.py:71-92). Docs with no sentences (or
    empty text) score 0.0 with NULL ratios and false flags — the
    reference's early-return rows."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = ws_tokens(t)
    sents = F.filter(
        F.split(t, r"[.!?]+"),
        lambda s: F.length(F.trim(F.regexp_replace(s, r"\s+", " "))) > 0)
    nw = F.size(words).cast("long")
    ns = F.size(sents).cast("long")
    np_ = F.size(F.split(t, r"\n\n")).cast("long")
    syl = F.aggregate(F.transform(words, _syllables),
                      F.lit(0).cast("long"), lambda acc, s: acc + s)
    valid = ns > 0
    awps = nw / ns
    aspw = syl / nw
    spp = ns / np_
    flesch = F.when(valid, F.round(
        F.greatest(F.lit(0.0), F.least(F.lit(100.0),
                                       206.835 - 1.015 * awps
                                       - 84.6 * aspw)), 4)) \
        .otherwise(F.lit(0.0))
    grade = F.when(flesch >= 85, F.lit("A")) \
        .when(flesch >= 70, F.lit("B")) \
        .when(flesch >= 50, F.lit("C")) \
        .when(flesch >= 30, F.lit("D")).otherwise(F.lit("F"))
    flag = lambda c: F.when(valid, c).otherwise(F.lit(False))  # noqa: E731
    return docs.select(
        F.col(id_col),
        nw.alias("n_words"), ns.alias("n_sentences"),
        F.when(valid, syl).otherwise(F.lit(None)).cast("long")
        .alias("n_syllables"),
        np_.alias("n_paragraphs"),
        F.when(valid, F.round(awps, 4)).alias("avg_words_per_sentence"),
        F.when(valid, F.round(aspw, 4)).alias("avg_syllables_per_word"),
        flesch.alias("flesch_score"), grade.alias("grade"),
        flag(awps > 25).alias("long_sentences"),
        flag(awps < 8).alias("short_sentences"),
        flag(aspw > 2.0).alias("complex_vocab"),
        flag(aspw < 1.3).alias("simple_vocab"),
        flag(spp > 8).alias("long_paragraphs"),
        flag((spp >= 3) & (spp <= 6)).alias("well_structured"))


def bigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   bigram_model: DataFrame | None = None,
                   unigram_model: DataFrame | None = None) -> DataFrame:
    """Per-doc mean conditional bigram log₁₀-probability — the
    second-order upgrade of ``unigram_logprob`` (CCNet's KenLM is a
    5-gram; this is the same scoring family built from corpus counts):
    ``P̂(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V)`` with add-one smoothing over
    the unigram vocabulary V. Repetitive/templated text scores HIGH
    under a bigram LM even when its unigrams are rare — the signal the
    unigram scorer misses.

    Same scale shape as the unigram path: both models are Zipf-bounded
    corpus aggs (map-side partials), **broadcast** onto the exploded
    doc bigrams (corpus never shuffles for the join); logs are
    nano-quantized longs so the mean is order-independent and
    cross-engine exact. Unseen w₁ takes c(w₁)=0 (score 1/V-ish floor);
    docs with < 2 tokens are absent (no bigram positions)."""
    toks = docs.select(F.col(id_col), T.tokens(F.col(text_col))
                       .alias("_tk"))
    big = toks.select(id_col, F.explode(kgrams(F.col("_tk"), 2))
                      .alias("bg"))
    uni = toks.select(id_col, F.explode(F.col("_tk")).alias("tok"))
    if bigram_model is None:
        bigram_model = big.groupBy("bg").agg(F.count("*").alias("cb"))
    if unigram_model is None:
        unigram_model = uni.groupBy("tok").agg(F.count("*").alias("cu"))
    # both models are Zipf-bounded tables referenced more than once
    # (unigram: vocab-size agg + the w1 join) — materialize so the
    # model-building corpus scan doesn't re-expand per reference
    bigram_model = bigram_model.localCheckpoint(eager=True)
    unigram_model = unigram_model.localCheckpoint(eager=True)
    vv = unigram_model.agg(F.count("*").alias("_v"))
    scored = (big
              .withColumn("_w1", F.split(F.col("bg"), " ")[0])
              .join(F.broadcast(bigram_model), "bg", "left")
              .join(F.broadcast(unigram_model.select(
                  F.col("tok").alias("_w1"), F.col("cu"))), "_w1", "left")
              .join(F.broadcast(vv))
              .withColumn("_lp", F.floor(F.log10(
                  (F.coalesce(F.col("cb"), F.lit(0)) + 1)
                  / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("_v")))
                  * 1e9).cast("long")))
    return (scored.groupBy(id_col)
            .agg(F.round(F.sum("_lp") / F.count("*") / 1e9, 6)
                 .alias("mean_logprob"),
                 F.count("*").alias("n_bigrams"),
                 F.sum(F.when(F.col("cb").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_oov_bigrams")))


# --------------------------------------------------------------------------
# BPE tokenizer TRAINING (the learn-merges half; wordpiece_encode is the
# apply half)
# --------------------------------------------------------------------------

BPE_END = "</w>"


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Apply one merge (left,right)→left+right across a symbol array,
    leftmost-first non-overlapping (classic BPE apply): a single
    aggregate fold — after a merge the combined symbol cannot re-merge
    with the next ``right`` in the same pass."""
    zero = F.array().cast("array<string>")

    def step(acc, x):
        hit = ((F.size(acc) > 0)
               & (F.element_at(acc, -1) == left) & (x == F.lit(right)))
        return (F.when(hit,
                       F.concat(F.slice(acc, 1, F.size(acc) - 1),
                                F.array(F.lit(left + right))))
                .otherwise(F.concat(acc, F.array(x))))

    return F.aggregate(syms, zero, step)


def bpe_train(docs: DataFrame, n_merges: int = 50,
              id_col: str = "doc_id", text_col: str = "text",
              min_pair_count: int = 2) -> DataFrame:
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016) —
    the training counterpart of ``wordpiece_encode``
    (complements ``build_vocab``'s counting pass).

    Scale shape — the part that matters at 100 TB: BPE trains on the
    WORD-FREQUENCY table, not the corpus. Stage 1 is the corpus-wide
    token count (map-side combined, the build_vocab agg); every merge
    iteration then runs on that Zipf-bounded table (10⁵-10⁷ rows at any
    corpus size): one explode of adjacent symbol pairs → weighted count
    agg → TakeOrdered(1) argmax — a 1-row driver scalar per merge, the
    algorithm's inherent sequential dependency (same convention as
    PageRank's convergence scalar; never row data) → one codegen fold
    applies the merge, ``localCheckpoint`` truncates the iteration
    lineage. Ties break (count DESC, left ASC, right ASC) —
    deterministic and disclosed (reference BPE implementations break
    ties by dict order, which is not reproducible).

    Stops early when no pair reaches ``min_pair_count`` (merging
    singletons memorizes words). Returns (rank, left, right, merged,
    pair_count)."""
    words = (docs
             .select(F.explode(T.tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("wc")))
    chars = F.filter(F.split(F.col("w"), ""), lambda c: c != F.lit(""))
    cur = words.select(
        "wc", F.concat(chars, F.array(F.lit(BPE_END))).alias("s"))
    cur = cur.localCheckpoint(eager=True)
    spark = docs.sparkSession
    merges: list[tuple] = []
    for rank in range(n_merges):
        # guard: a fully-merged word (size 1) must yield NO pairs —
        # sequence(1, 0) would DESCEND and index out of bounds
        pair_arr = F.when(
            F.size("s") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("s") - 1),
                lambda i: F.struct(
                    F.element_at("s", i).alias("l"),
                    F.element_at("s", (i + 1).cast("int")).alias("r")))
        ).otherwise(F.array().cast(
            "array<struct<l:string,r:string>>"))
        pairs = (cur
                 .select("wc", F.explode(pair_arr).alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("wc").alias("n")))
        top = (pairs.orderBy(F.col("n").desc(), "l", "r").limit(1)
               .collect())  # 1-row argmax scalar, the sequential dep
        if not top or top[0]["n"] < min_pair_count:
            break
        left, right, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((rank, left, right, left + right, n))
        cur = (cur.select("wc", _merge_fold(F.col("s"), left, right)
                          .alias("s"))
               .localCheckpoint(eager=True))
    return spark.createDataFrame(
        merges,
        "rank long, left string, right string, merged string, "
        "pair_count long")


def with_compression_ratio(docs: DataFrame, text_col: str = "text",
                           low_ppm: int = 120_000,
                           high_ppm: int = 600_000) -> DataFrame:
    """Compression-ratio quality signal: ``zlib(text) / len(text)``.

    Highly repetitive text (crawler-trap pages, keyword stuffing,
    boilerplate loops) compresses far below normal prose; random
    gibberish / base64 blobs barely compress at all. Production corpus
    pipelines gate on both tails (the signal family RefinedWeb/CCNet
    discuss alongside the Gopher repetition rules — one number instead
    of per-gram bookkeeping, and it catches repetition STRUCTURES grams
    miss, e.g. long-period copy loops).

    ``ratio_ppm`` = compressed_bytes·10⁶ DIV utf8_bytes (integer;
    deterministic — zlib level 6 with a fixed strategy is a pure
    function of the bytes); flags ``too_repetitive`` (< ``low_ppm``)
    and ``incompressible`` (> ``high_ppm``). Empty/NULL text → NULL
    ratio, both flags false. Measured bands on this corpus: natural
    prose ≈ 250-450k ppm, base64-ish gibberish ≈ 680k, random
    printables ≈ 830k, a crawler-trap copy loop ≈ 8k — the defaults
    sit in the gaps.

    zlib is not expressible in SQL, so the contract entry is rows-only
    (like bpe_merges); correctness is held by a python twin in the unit
    tests (the UDF body IS the twin — same zlib, same arithmetic).
    One Arrow-batched pandas UDF; zero shuffle."""
    from pyspark.sql import types as ST
    from pyspark.sql.functions import pandas_udf

    out_t = ST.StructType([
        ST.StructField("ratio_ppm", ST.LongType()),
        ST.StructField("n_bytes", ST.LongType()),
    ])

    @pandas_udf(out_t)
    def _ratio(ts: pd.Series) -> pd.DataFrame:  # pragma: no cover
        import zlib
        rows = []
        for t in ts:
            if t is None or t == "":
                rows.append({"ratio_ppm": None, "n_bytes": 0})
                continue
            raw = t.encode("utf-8")
            comp = len(zlib.compress(raw, 6))
            rows.append({"ratio_ppm": comp * 1_000_000 // len(raw),
                         "n_bytes": len(raw)})
        return pd.DataFrame(rows)

    out = docs.withColumn("_cr", _ratio(F.col(text_col)))
    return (out
            .withColumn("ratio_ppm", F.col("_cr.ratio_ppm"))
            .withColumn("n_bytes", F.col("_cr.n_bytes"))
            .drop("_cr")
            .withColumn("too_repetitive",
                        F.coalesce(F.col("ratio_ppm") < low_ppm,
                                   F.lit(False)))
            .withColumn("incompressible",
                        F.coalesce(F.col("ratio_ppm") > high_ppm,
                                   F.lit(False))))
