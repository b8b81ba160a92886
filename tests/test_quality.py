"""Gopher quality signals, decontamination, stratified sampling
(operators/quality.py) — checked against a pure-Python reference on crafted
docs that exercise the line-based and repetition rules the driver's
single-line documents cannot (bullets, ellipses, duplicate lines, heavy
n-gram repetition)."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from chrono_scraper_spark.operators import quality as Q

DOCS = [
    # clean prose: passes everything except the 50-word minimum
    (0, "the quick brown fox jumps over the lazy dog and runs on to the "
        "hills in the morning light with a steady pace for hours"),
    # bullet list + duplicate lines
    (1, "intro line\n- first bullet\n- second bullet\n* third\nintro line\n"
        "• fourth bullet"),
    # ellipsis endings
    (2, "this trails off...\nand this one too…\nbut this line does not\n"
        "nor this one"),
    # heavy 2-gram repetition: "spam ham" repeated
    (3, "spam ham " * 30),
    # 5-gram repetition: a 6-word sentence repeated
    (4, "alpha beta gamma delta epsilon zeta " * 10),
    # symbols
    (5, "price # one # two # three tags ## more #"),
    # short + empty edge cases
    (6, "word"),
    (7, ""),
    (8, "two words"),
    # long passing doc: 60 distinct-ish words of prose with stopwords
    (9, " ".join(f"word{i} the cat and dog of it" for i in range(10))),
]


def py_signals(text: str) -> dict:
    t = text or ""
    toks = [w for w in re.split(r"\s+", t.strip()) if w]
    nw = max(len(toks), 1)
    n_chars = max(len(t), 1)
    chars_nospace = len(re.sub(r"\s", "", t))
    lines = [ln for ln in t.split("\n") if ln.strip()]
    nl = max(len(lines), 1)

    def grams(k):
        if len(toks) < k:
            return []
        return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]

    # §A1.1 coverage semantics (r4): union of covered word positions,
    # each word's chars counted once; denominator = non-whitespace chars
    def cover_chars(starts, k):
        covered = set()
        for s in starts:
            covered.update(range(s, s + k))
        return sum(len(toks[i]) for i in covered)

    g2l, g5l = grams(2), grams(5)
    c2 = Counter(g2l)
    if g2l:
        topcnt = max(c2.values())
        top = min(g for g, n in c2.items() if n == topcnt)  # lexicographic
        top2 = cover_chars([i for i, g in enumerate(g2l) if g == top], 2)
    else:
        top2 = 0
    seen: Counter = Counter()
    d5starts = []
    for i, g in enumerate(g5l):
        seen[g] += 1
        if seen[g] > 1:                      # non-first occurrences only
            d5starts.append(i)
    dup5 = cover_chars(d5starts, 5)
    cns = max(chars_nospace, 1)
    stop = {"the", "and", "of", "to", "in", "is", "that", "for", "with",
            "as", "on", "by", "at", "from", "this", "are", "was", "be",
            "or", "an"}
    # engine tokenization splits on non-letter/digit (docs here are ASCII)
    wtoks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
    return {
        "n_words": len(toks),
        "mean_word_len": round(chars_nospace / nw, 6),
        "alpha_word_frac": round(
            sum(1 for w in toks if re.search(r"[^\W\d_]", w)) / nw, 6),
        "symbol_word_ratio": round(
            len(re.findall(r"#|\.\.\.", t)) / nw, 6),
        "stop_hits": sum(1 for w in wtoks if w in stop),
        "bullet_line_frac": round(
            sum(1 for ln in lines if re.match(r"^\s*[-*•]", ln)) / nl, 6),
        "ellipsis_line_frac": round(
            sum(1 for ln in lines if re.search(r"(\.\.\.|…)\s*$", ln)) / nl,
            6),
        "dup_line_frac": round((len(lines) - len(set(lines))) / nl, 6),
        "top2gram_char_frac": round(top2 / cns, 6),
        "dup5gram_char_frac": round(dup5 / cns, 6),
    }


@pytest.fixture(scope="module")
def signals(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = Q.gopher_signals(df).orderBy("doc_id").collect()
    return {r["doc_id"]: r.asDict() for r in rows}


def test_signals_match_python_reference(signals):
    for doc_id, text in DOCS:
        exp = py_signals(text)
        got = signals[doc_id]
        for k, v in exp.items():
            assert got[k] == pytest.approx(v, abs=1e-9), (doc_id, k, text)


def test_gopher_verdicts(signals):
    # heavy 2-gram repetition and bullet spam must fail; the only
    # 50+-word doc with sane stats is doc 9 — but its 2-gram repetition
    # ("the cat and dog of it" template) pushes top2 over 0.20? verify from
    # the signal rather than hard-coding
    assert signals[3]["passes_gopher"] is False        # top2gram
    assert signals[4]["passes_gopher"] is False        # dup5gram
    assert signals[7]["passes_gopher"] is False        # empty
    assert signals[0]["passes_gopher"] is False        # < 50 words
    s9 = signals[9]
    expected9 = (50 <= s9["n_words"] <= 100000
                 and 3.0 <= s9["mean_word_len"] <= 10.0
                 and s9["symbol_word_ratio"] <= 0.1
                 and s9["alpha_word_frac"] >= 0.8 and s9["stop_hits"] >= 2
                 and s9["bullet_line_frac"] <= 0.9
                 and s9["ellipsis_line_frac"] <= 0.3
                 and s9["dup_line_frac"] <= 0.3
                 and s9["top2gram_char_frac"] <= 0.20
                 and s9["dup5gram_char_frac"] <= 0.15)
    assert s9["passes_gopher"] is expected9


def test_gopher_coverage_fractions_bounded(spark):
    """Coverage semantics cap both gram fractions at 1.0 even for a
    maximally repetitive doc (the r1-r3 occurrences×length convention gave
    ~2.0 here); the fully-repetitive doc hits EXACTLY 1.0."""
    docs = [(0, "spam ham " * 40), (1, "one two three four five " * 20)]
    rows = (Q.gopher_signals(spark.createDataFrame(docs,
                                                   ["doc_id", "text"]))
            .orderBy("doc_id").collect())
    for r in rows:
        assert 0.0 <= r["top2gram_char_frac"] <= 1.0, r["doc_id"]
        assert 0.0 <= r["dup5gram_char_frac"] <= 1.0, r["doc_id"]
    # every word of doc 0 is covered by an occurrence of the top 2-gram
    assert rows[0]["top2gram_char_frac"] == 1.0
    assert rows[0]["passes_gopher"] is False


def test_gopher_plan_is_shuffle_free(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    plan = Q.gopher_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_decontaminate_planted_overlap(spark):
    base = " ".join(f"tok{i}" for i in range(20))          # 20 words
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, base + " tail one two"),    # shares all 13 8-grams of base
         (2, "totally different words " * 5),
         (3, " ".join(f"tok{i}" for i in range(8)))],  # one exact 8-gram
        ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict()
           for r in Q.decontaminate(corpus, bench, k=8).collect()}
    assert 2 not in out
    assert out[1]["n_hit_grams"] == 13      # 20-8+1 grams, all shared
    assert out[3]["n_hit_grams"] == 1
    assert out[1]["contaminated"] and out[3]["contaminated"]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    bench = spark.createDataFrame([(0, "a b c d e f g h i")],
                                  ["doc_id", "text"])
    corpus = spark.createDataFrame([(1, "a b c d e f g h i j")],
                                   ["doc_id", "text"])
    plan = (Q.decontaminate(corpus, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_deterministic_and_capped(spark):
    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = Q.stratified_sample(df, "source", cap=5, key_col="doc_id")
    got = sorted((r["source"], r["sample_rank"], r["doc_id"])
                 for r in out.collect())
    # python reference: 5 smallest md5(doc_id) per source
    exp = []
    by_src: dict[str, list] = {}
    for i, src in rows:
        by_src.setdefault(src, []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i))
    for src, lst in by_src.items():
        for rank, (_, i) in enumerate(sorted(lst)[:5], 1):
            exp.append((src, rank, i))
    assert got == sorted(exp)


def test_stratified_sample_salted_equals_exact(spark):
    rows = [(i, f"s{i % 2}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    exact = set(map(tuple, Q.stratified_sample(
        df, "source", cap=7, key_col="doc_id").collect()))
    salted = set(map(tuple, Q.stratified_sample(
        df, "source", cap=7, key_col="doc_id", salt_k=5).collect()))
    assert exact == salted


def test_strip_boilerplate_lines(spark):
    docs = [
        (1, "banner line\ncontent one\nfooter line"),
        (2, "banner line\ncontent two\nfooter line"),
        (3, "banner line\ncontent three"),
        (4, "unique document\nno chrome here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in Q.strip_boilerplate_lines(
        df, min_doc_freq=2).collect()}
    assert out[1]["clean_text"] == "content one"
    assert out[1]["n_lines_removed"] == 2
    assert out[3]["clean_text"] == "content three"
    assert out[3]["n_lines_removed"] == 1
    assert out[4]["clean_text"] == "unique document\nno chrome here"
    assert out[4]["n_lines_removed"] == 0


def test_strip_boilerplate_normalizes_lines(spark):
    # 'Banner  Line' and 'banner line' are the same normalized line
    docs = [(1, "Banner  Line\nkeep a"), (2, "banner line\nkeep b"),
            (3, " BANNER LINE \nkeep c")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"] for r in Q.strip_boilerplate_lines(
        df, min_doc_freq=3).collect()}
    assert out == {1: "keep a", 2: "keep b", 3: "keep c"}


def test_unigram_logprob_reference(spark):
    import math
    train = spark.createDataFrame(
        [(0, "the cat sat"), (2, "the dog sat")], ["doc_id", "text"])
    test = spark.createDataFrame(
        [(1, "the cat"), (3, "the wombat")], ["doc_id", "text"])
    from pyspark.sql import functions as SF
    from chrono_scraper_spark.functions import textops as T
    model = (train.select(SF.explode(T.tokens(SF.col("text"))).alias("tok"))
             .groupBy("tok").agg(SF.count("*").alias("cnt")))
    out = {r["doc_id"]: r.asDict()
           for r in Q.unigram_logprob(test, model=model).collect()}
    # model: the=2 cat=1 sat=2 dog=1 → total=6, vocab=4
    def lp(c):
        return math.floor(math.log10((c + 1) / (6 + 4)) * 1e9)
    exp1 = round((lp(2) + lp(1)) / 2 / 1e9, 6)
    exp3 = round((lp(2) + lp(0)) / 2 / 1e9, 6)
    assert out[1]["mean_logprob"] == pytest.approx(exp1, abs=1e-9)
    assert out[1]["n_oov"] == 0
    assert out[3]["mean_logprob"] == pytest.approx(exp3, abs=1e-9)
    assert out[3]["n_oov"] == 1
    assert out[3]["n_tokens"] == 2


def test_unigram_model_is_broadcast(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = (Q.unigram_logprob(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_lm_buckets_terciles_per_lang(spark):
    """6 docs in one lang split 2/2/2 by score (ties to higher bucket);
    a second lang gets its own thresholds; no per-language sort window."""
    rows = ([(i, "en", float(-i)) for i in range(1, 7)]       # -1..-6
            + [(10, "fr", -0.5), (11, "fr", -5.0), (12, "fr", -9.0)])
    scored = spark.createDataFrame(
        rows, "doc_id long, lang string, mean_logprob double")
    out = {r["doc_id"]: r["bucket"] for r in Q.lm_buckets(scored).collect()}
    # en thresholds: percentile 1/3 -> -4.333.., 2/3 -> -2.666..
    assert out[1] == "head" and out[2] == "head"
    assert out[3] == "middle" and out[4] == "middle"
    assert out[5] == "tail" and out[6] == "tail"
    assert out[10] == "head" and out[11] == "middle" and out[12] == "tail"
    plan = (Q.lm_buckets(scored)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "Window" not in plan


# --------------------------------------------------------------------------
# DSIR importance resampling
# --------------------------------------------------------------------------

def _dsir_corpora(spark):
    """Target speaks 'alpha' vocabulary; raw has 4 alpha-docs and 4 docs of
    disjoint 'zeta' vocabulary. Long docs so log-weights dominate Gumbel."""
    alpha = " ".join(f"alpha{i % 7} beta{i % 5}" for i in range(40))
    zeta = " ".join(f"zeta{i % 7} eta{i % 5}" for i in range(40))
    target = spark.createDataFrame(
        [(100 + i, alpha) for i in range(6)], "doc_id int, text string")
    raw = spark.createDataFrame(
        [(i, alpha if i < 4 else zeta) for i in range(8)],
        "doc_id int, text string")
    return raw, target


def test_dsir_selects_target_like_docs(spark):
    raw, target = _dsir_corpora(spark)
    top = Q.dsir_sample(raw, target, k=4)
    assert {r["doc_id"] for r in top.collect()} == {0, 1, 2, 3}
    assert [r["rank"] for r in top.orderBy("rank").collect()] == [1, 2, 3, 4]


def test_dsir_weights_order_and_determinism(spark):
    raw, target = _dsir_corpora(spark)
    s1 = {r["doc_id"]: r for r in
          Q.dsir_importance(raw, target).collect()}
    s2 = {r["doc_id"]: r for r in
          Q.dsir_importance(raw.repartition(7), target).collect()}
    assert len(s1) == 8
    for i in s1:  # partitioning-independent, bit-identical
        assert s1[i]["logw_nano"] == s2[i]["logw_nano"]
        assert s1[i]["key_nano"] == s2[i]["key_nano"]
    # every alpha doc outweighs every zeta doc
    assert min(s1[i]["logw_nano"] for i in range(4)) > \
        max(s1[i]["logw_nano"] for i in range(4, 8))
    # empty doc scores 0 grams / 0 weight
    empty = spark.createDataFrame([(99, "")], "doc_id int, text string")
    row = Q.dsir_importance(empty, target).collect()[0]
    assert row["n_grams"] == 0 and row["logw_nano"] == 0


def test_dsir_plan_broadcast_model_and_takeordered(spark):
    raw, target = _dsir_corpora(spark)
    scored_plan = Q.dsir_importance(raw, target)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in scored_plan  # model side broadcast
    top_plan = Q.dsir_sample(raw, target, k=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in top_plan  # no global sort


def test_dedup_lines_within_doc(spark):
    docs = spark.createDataFrame(
        [(1, "alpha one\nbeta two\nAlpha   One\ngamma\n\n  \nbeta two"),
         (2, "solo line"),
         (3, "")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           Q.dedup_lines_within_doc(docs).collect()}
    # normalized dups dropped (case/whitespace-insensitive), first kept;
    # blank lines excluded from both counts
    assert out[1]["clean_text"] == "alpha one\nbeta two\ngamma"
    assert out[1]["n_lines_removed"] == 2
    assert out[2]["clean_text"] == "solo line"
    assert out[2]["n_lines_removed"] == 0
    assert out[3]["clean_text"] == "" and out[3]["n_lines_removed"] == 0


def test_dedup_lines_plan_is_shuffle_free(spark):
    docs = spark.createDataFrame([(1, "a\nb")], "doc_id int, text string")
    plan = Q.dedup_lines_within_doc(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_prefix_sum_multi_partition(spark):
    # 40 docs spread over many range partitions; token counts chosen so
    # the stream offsets are easy to state in closed form
    rows = [(i, " ".join(["w"] * (i % 7))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id int, text string") \
        .repartition(8)
    out = {r["doc_id"]: r for r in
           Q.pack_sequences(docs, seq_len=5).collect()}
    assert len(out) == 40
    acc = 0
    for i in range(40):
        n = i % 7
        r = out[i]
        assert r["n_tokens"] == n
        assert r["start_tok"] == acc, (i, r["start_tok"], acc)
        assert r["first_seq"] == acc // 5
        expect_last = acc // 5 if n == 0 else (acc + n - 1) // 5
        assert r["last_seq"] == expect_last
        acc += n


def test_pack_sequences_spanning_doc_and_single_exchange(spark):
    # one doc longer than seq_len spans multiple sequences
    docs = spark.createDataFrame(
        [(1, " ".join(["t"] * 12)), (2, "a b"), (3, "")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           Q.pack_sequences(docs, seq_len=4).collect()}
    assert (out[1]["first_seq"], out[1]["last_seq"]) == (0, 2)
    assert (out[2]["start_tok"], out[2]["first_seq"]) == (12, 3)
    assert out[3]["n_tokens"] == 0 and out[3]["first_seq"] == 3
    # exactly one exchange in the whole plan: the range partitioning
    plan = Q.pack_sequences(docs, seq_len=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") <= 2  # range exchange (+AQE read)
    assert "rangepartitioning" in plan.lower()


def test_fasttext_score_semantics_and_zero_shuffle(spark):
    docs = spark.createDataFrame(
        [(1, "Word word WORD"), (2, ""), (3, None), (4, "alpha beta gamma")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in Q.fasttext_score(docs).collect()}
    # identical tokens → w_sum = 3 × single-token weight; score matches
    # the closed-form sigmoid
    import math
    w1 = out[1]["w_sum"]
    assert w1 % 3 == 0 and out[1]["n_tokens"] == 3
    expect = round(1e6 / (1 + math.exp(-(w1 / 3000.0))))
    assert out[1]["score_micro"] == expect
    # empty / null docs: neutral score, never kept
    for d in (2, 3):
        assert out[d]["n_tokens"] == 0
        assert out[d]["score_micro"] == 500000 and not out[d]["keep"]
    assert out[4]["keep"] == (out[4]["score_micro"] >= 500000)
    plan = Q.fasttext_score(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # pure projection


def test_mix_rebalance_uniform_target(spark):
    # src a: 60 tokens, src b: 30, src c: 10 → uniform target keeps c
    # whole (most underrepresented), downsamples a to ~1/6, b to ~1/3
    rows = []
    did = 0
    for src, docs_n, words in (("a", 6, 10), ("b", 3, 10), ("c", 1, 10)):
        for _ in range(docs_n):
            rows.append((did, src, " ".join(["w"] * words)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    out = Q.mix_rebalance(df).collect()
    acc = {r["source"]: r["accept_ppm"] for r in out}
    assert acc["c"] == 1_000_000          # kept whole
    assert acc["a"] == 166_666            # floor(1e6 * (1/60)/(1/10) / ... )
    assert acc["b"] == 333_333
    assert len(out) == 10                 # every doc present with keep flag
    # deterministic: second run identical decisions
    out2 = Q.mix_rebalance(df).collect()
    assert sorted((r["doc_id"], r["keep"]) for r in out) == \
        sorted((r["doc_id"], r["keep"]) for r in out2)


def test_mix_rebalance_explicit_target_and_empty_stratum(spark):
    df = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "b", "x y z"), (3, "empty", "")],
        "doc_id int, source string, text string")
    # explicit 3:1 target between a and b; 'empty' has 0 tokens → rate 0
    out = {r["source"]: r for r in Q.mix_rebalance(
        df, target_ppm={"a": 750_000, "b": 250_000, "empty": 0}).collect()}
    assert out["a"]["accept_ppm"] == 1_000_000
    assert out["b"]["accept_ppm"] == 333_333
    assert out["empty"]["accept_ppm"] == 0 and not out["empty"]["keep"]


def test_mix_rebalance_plan_broadcasts_strata(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")],
        "doc_id int, source string, text string")
    plan = Q.mix_rebalance(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan    # corpus is never shuffled for joins


def test_pack_emit_matches_flat_stream(spark):
    import hashlib
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(i % 9))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id int, text string") \
        .repartition(8)
    L, V = 7, 50
    out = {r["seq_id"]: r for r in Q.pack_emit(docs, seq_len=L, vocab=V,
                                               pad_id=-1).collect()}
    # flat python recompute of the hashed token stream in doc_id order
    stream = []
    for i in range(30):
        for j in range(i % 9):
            t = f"w{i}x{j}"
            stream.append(int(hashlib.md5(t.encode()).hexdigest()[:8],
                              16) % V)
    n_seqs = -(-len(stream) // L)
    assert set(out) == set(range(n_seqs))
    for s in range(n_seqs):
        want = stream[s * L:(s + 1) * L]
        fill = len(want)
        want = want + [-1] * (L - fill)
        assert out[s]["input_ids"] == want, s
        assert out[s]["n_filled"] == fill


def test_pack_emit_plan_no_per_token_explode(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    plan = Q.pack_emit(docs, seq_len=4)._jdf.queryExecution() \
        .executedPlan().toString()
    # exactly one Generate (the doc->spanned-seq explode); the token ids
    # travel as array slices, never as one row per token
    assert plan.count("Generate") == 1
    assert "rangepartitioning" in plan.lower()      # prefix-sum exchange
    assert "hashpartitioning(seq_id" in plan        # reassembly shuffle


def test_build_vocab_rank_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c d"), (3, "")],
        "doc_id int, text string").select("text")
    out = [(r["token_id"], r["token"], r["n"])
           for r in Q.build_vocab(docs, size=3).orderBy("token_id").collect()]
    # a:3, b:3 (tie -> 'a' first), c:2, d:1 cut by size
    assert out == [(0, "a", 3), (1, "b", 3), (2, "c", 2)]
    plan = Q.build_vocab(docs, size=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan   # no global sort of the counts


def test_assign_shards_offsets_and_straddle(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 10), (2, "y" * 10), (3, ""), (4, "z" * 25)],
        "doc_id int, text string").repartition(3)
    out = {r["doc_id"]: r for r in
           Q.assign_shards(docs, shard_bytes=16).collect()}
    assert (out[1]["start_byte"], out[1]["shard"]) == (0, 0)
    assert out[1]["straddles"] is False
    assert (out[2]["start_byte"], out[2]["shard"]) == (10, 0)
    assert out[2]["straddles"] is True          # 10..19 crosses byte 16
    assert (out[3]["start_byte"], out[3]["shard"],
            out[3]["straddles"]) == (20, 1, False)
    assert (out[4]["start_byte"], out[4]["shard"]) == (20, 1)
    assert out[4]["straddles"] is True          # 20..44 crosses byte 32


def test_wp_greedy_pure():
    vocab = frozenset(
        ["archive", "arch", "ive", "##ive", "##hive",
         "a", "r", "c", "h", "i", "v", "e",
         "##a", "##r", "##c", "##h", "##i", "##v", "##e"])
    # longest-match-first: whole word wins over prefix pieces
    assert Q._wp_greedy("archive", vocab, 100) == ["archive"]
    # '##s' absent → the trailing char fails → whole-word None
    assert Q._wp_greedy("archives", vocab, 100) is None
    # greedy picks the longest continuation at each step
    assert Q._wp_greedy("archhive", vocab, 100) == ["arch", "##hive"]
    # unmatched char → whole-word failure (None)
    assert Q._wp_greedy("arq", vocab, 100) is None
    # over-length rule
    assert Q._wp_greedy("a" * 101, vocab, 100) is None
    assert Q._wp_greedy("a", vocab, 100) == ["a"]


def test_wordpiece_encode_engine(spark):
    docs = spark.createDataFrame(
        [(1, "the cat the"), (2, "catx"), (3, None)],
        "doc_id long, text string")
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("c",), ("a",), ("t",),
         ("##a",), ("##t",), ("##c",)],
        "piece string")
    out = {r["doc_id"]: r for r in
           Q.wordpiece_encode(docs, vocab).collect()}
    # doc 1: 'the' 'cat' 'the' → 3 pieces, 0 unk
    assert (out[1]["n_pieces"], out[1]["n_unk_words"]) == (3, 0)
    # doc 2: 'catx' fails at 'x' → whole-word [UNK] (1 piece, 1 unk)
    assert (out[2]["n_pieces"], out[2]["n_unk_words"]) == (1, 1)
    # doc 3: null text → empty stream
    assert (out[3]["n_pieces"], out[3]["n_unk_words"]) == (0, 0)
    import hashlib
    assert out[3]["piece_sig"] == hashlib.md5(b"").hexdigest()
    assert out[1]["piece_sig"] == \
        hashlib.md5(b"the cat the").hexdigest()


def test_wordpiece_vocab_recipe(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb aa cc")], "doc_id long, text string")
    pieces = {r["piece"] for r in
              Q.wordpiece_vocab(docs, top_words=2, alphabet="ab")
              .collect()}
    # top-2 words by (count desc, token asc): aa(3), bb(2); alphabet both forms
    assert pieces == {"aa", "bb", "a", "b", "##a", "##b"}


def test_wordpiece_encode_plan_zero_exchanges(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    vocab = spark.createDataFrame([("a",), ("b",)], "piece string")
    plan = Q.wordpiece_encode(docs, vocab)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 0  # broadcast codebook, map-only pass


# --------------------------------------------------------------------------
# readability (quality_scoring.py analog)
# --------------------------------------------------------------------------

def _py_syllables(word: str) -> int:
    word = word.lower()
    vowels = "aeiouy"
    n = 0
    prev = False
    for ch in word:
        if ch in vowels:
            if not prev:
                n += 1
            prev = True
        else:
            prev = False
    if word.endswith("e") and n > 1:
        n -= 1
    return max(1, n)


def _py_readability(text: str):
    """Independent twin of the reference's calculate_readability_score
    (quality_scoring.py:41-94) returning the engine's column values."""
    t = text or ""
    words = t.split()
    sentences = [s for s in re.split(r"[.!?]+", t) if s.strip()]
    paragraphs = t.split("\n\n")
    if not sentences:
        return (len(words), 0, None, len(paragraphs), None, None, 0.0, "F",
                False, False, False, False, False, False)
    syl = sum(_py_syllables(w) for w in words)
    awps = len(words) / len(sentences)
    aspw = syl / len(words)
    spp = len(sentences) / len(paragraphs)
    flesch = round(max(0.0, min(100.0, 206.835 - 1.015 * awps
                                - 84.6 * aspw)), 4)
    grade = ("A" if flesch >= 85 else "B" if flesch >= 70 else
             "C" if flesch >= 50 else "D" if flesch >= 30 else "F")
    return (len(words), len(sentences), syl, len(paragraphs),
            round(awps, 4), round(aspw, 4), flesch, grade,
            awps > 25, awps < 8, aspw > 2.0, aspw < 1.3,
            spp > 8, (3 <= spp <= 6))


READABILITY_DOCS = [
    (0, "The cat sat. The dog ran! Did the bird fly? Yes it flew."),
    (1, "Incomprehensibility notwithstanding, the multisyllabic "
        "vocabulary necessitates exceptionally sophisticated parsing."),
    (2, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 2 + "."),
    (3, ""),                       # empty → 0.0 / F
    (4, "no terminal punctuation at all"),   # no sentences → 0.0
    (5, "one. two. three. four.\n\nfive. six. seven.\n\neight."),
    (6, "The the the. " * 30),     # clamp check: very simple
    (7, "strange?!?...!! punctuation?? everywhere!!"),
]


def test_readability_matches_python_twin(spark):
    from chrono_scraper_spark.operators.quality import readability

    df = spark.createDataFrame(READABILITY_DOCS,
                               "doc_id long, text string")
    got = {r.doc_id: r for r in readability(df).collect()}
    for doc_id, text in READABILITY_DOCS:
        (nw, ns, syl, npg, awps, aspw, flesch, grade,
         ls, ss, cv, sv, lp, wsx) = _py_readability(text)
        r = got[doc_id]
        assert (r.n_words, r.n_sentences, r.n_syllables,
                r.n_paragraphs) == (nw, ns, syl, npg), doc_id
        for g, w in ((r.avg_words_per_sentence, awps),
                     (r.avg_syllables_per_word, aspw),
                     (r.flesch_score, flesch)):
            if w is None:
                assert g is None, doc_id
            else:
                assert abs(g - w) < 1e-9, (doc_id, g, w)
        assert r.grade == grade, doc_id
        assert (r.long_sentences, r.short_sentences, r.complex_vocab,
                r.simple_vocab, r.long_paragraphs, r.well_structured) \
            == (ls, ss, cv, sv, lp, wsx), doc_id


def test_readability_syllable_heuristic(spark):
    from chrono_scraper_spark.operators.quality import readability

    # silent-e: 'grape' → 2 groups − 1 = 1; 'the' → 1 group, no subtract
    # (n must exceed 1); 'queue' → one 'ueue' run = 1; 'y' is a vowel:
    # 'rhythm' → 1
    cases = {"grape": 1, "the": 1, "rhythm": 1, "idea": 2, "queue": 1,
             "strength": 1, "beautiful": 3}
    for word, want in cases.items():
        assert _py_syllables(word) == want, word
    # engine drive: "<word> ." — the bare word keeps its shape (a glued
    # "word." token would defeat the silent-e test) and the lone "."
    # token contributes the max(1, 0) floor
    df = spark.createDataFrame([(i, f"{w} .") for i, w in
                                enumerate(cases)],
                               "doc_id long, text string")
    got = {r.doc_id: r.n_syllables for r in readability(df).collect()}
    for i, (word, want) in enumerate(cases.items()):
        assert got[i] == want + 1, word


def test_readability_plan_zero_shuffle(spark):
    from chrono_scraper_spark.operators.quality import readability

    df = spark.createDataFrame(READABILITY_DOCS,
                               "doc_id long, text string")
    plan = readability(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_bigram_logprob_prefers_seen_sequences(spark):
    """A bigram LM separates texts by WORD ORDER where a unigram LM
    cannot: same multiset, familiar vs scrambled order."""
    from chrono_scraper_spark.operators.quality import (bigram_logprob,
                                                        unigram_logprob)

    train = [(i, "the quick brown fox jumps over the lazy dog") for i
             in range(0, 20, 2)]
    test = [(1, "the quick brown fox jumps over the lazy dog"),  # in-LM
            (3, "dog the over lazy fox quick jumps brown the"),  # shuffled
            (5, "completely unseen vocabulary here")]
    df = spark.createDataFrame(train + test, "doc_id long, text string")
    tr = df.filter("doc_id % 2 = 0")
    te = df.filter("doc_id % 2 = 1")
    import pyspark.sql.functions as F
    from chrono_scraper_spark.functions import textops as T
    from chrono_scraper_spark.operators.quality import kgrams

    tk = tr.select(T.tokens(F.col("text")).alias("_tk"))
    bm = (tk.select(F.explode(kgrams(F.col("_tk"), 2)).alias("bg"))
          .groupBy("bg").agg(F.count("*").alias("cb")))
    um = (tk.select(F.explode(F.col("_tk")).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("cu")))
    got = {r.doc_id: r for r in
           bigram_logprob(te, bigram_model=bm,
                          unigram_model=um).collect()}
    # the in-LM order dominates both; the scrambled doc scores BELOW the
    # unseen-vocab doc — correct conditional-LM behavior: a seen context
    # w1 (c=10) with an unseen continuation gets 1/(10+V), below the
    # fully-unseen floor 1/(0+V)
    assert got[1].mean_logprob > got[3].mean_logprob
    assert got[1].mean_logprob > got[5].mean_logprob
    assert got[3].mean_logprob < got[5].mean_logprob
    assert got[1].n_oov_bigrams == 0
    assert got[3].n_oov_bigrams == got[3].n_bigrams  # every pair unseen
    # unigram LM CANNOT separate 1 from 3 (same token multiset)
    uni = {r.doc_id: r.mean_logprob for r in
           unigram_logprob(te, model=um.withColumnRenamed("cu", "cnt")
                           .withColumnRenamed("tok", "tok")).collect()}
    assert abs(uni[1] - uni[3]) < 1e-9


# --------------------------------------------------------------------------
# BPE training (quality.bpe_train)
# --------------------------------------------------------------------------

def _py_bpe_train(word_counts, n_merges, min_pair=2):
    cur = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for rank in range(n_merges):
        cnt: Counter = Counter()
        for w, syms in cur.items():
            for i in range(len(syms) - 1):
                cnt[(syms[i], syms[i + 1])] += word_counts[w]
        if not cnt:
            break
        (left, right), n = min(cnt.items(),
                               key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair:
            break
        merges.append((rank, left, right, left + right, n))
        for w, syms in cur.items():
            out, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            cur[w] = out
    return merges, cur


BPE_DOCS = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new newer"),
    (2, "low new lower newer widest wide"),
    (3, "aaa aaaa aa"),              # overlapping-pair stress
]


def test_bpe_train_matches_python_twin(spark):
    from chrono_scraper_spark.operators.quality import bpe_train

    wc: Counter = Counter()
    for _i, t in BPE_DOCS:
        wc.update(t.split())
    want, _final = _py_bpe_train(dict(wc), n_merges=12)
    df = spark.createDataFrame(BPE_DOCS, "doc_id long, text string")
    got = [(r.rank, r.left, r.right, r.merged, r.pair_count)
           for r in bpe_train(df, n_merges=12)
           .orderBy("rank").collect()]
    assert got == want
    assert len(got) >= 5     # the corpus supports a real merge sequence


# ---------------------------------------------------------------------------
# compression-ratio signal
# ---------------------------------------------------------------------------

def test_compression_ratio_twin_and_flags(spark):
    import zlib

    from chrono_scraper_spark.operators.quality import (
        with_compression_ratio,
    )

    prose = ("The quick brown fox jumps over the lazy dog near the "
             "riverbank while autumn leaves drift slowly downstream. "
             "Seventeen travellers compared notes about distant cities, "
             "railway timetables, and the price of bread.") * 3
    loop = "buy cheap widgets now " * 400        # crawler-trap repetition
    import random
    rnd = random.Random(7)
    blob = "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz0123456789+/")
                   for _ in range(4000))          # base64-ish gibberish
    rows = [("prose", prose), ("loop", loop), ("blob", blob),
            ("empty", ""), ("null", None)]
    df = spark.createDataFrame(rows, "name string, text string")
    got = {r["name"]: r for r in with_compression_ratio(df).collect()}

    # exact python-twin parity (same zlib, same arithmetic)
    for name, t in rows:
        if not t:
            assert got[name]["ratio_ppm"] is None
            assert not got[name]["too_repetitive"]
            assert not got[name]["incompressible"]
            continue
        raw = t.encode()
        want = len(zlib.compress(raw, 6)) * 1_000_000 // len(raw)
        assert got[name]["ratio_ppm"] == want, name
        assert got[name]["n_bytes"] == len(raw)
    # the tails flag; normal prose doesn't
    assert got["loop"]["too_repetitive"]
    assert not got["loop"]["incompressible"]
    assert got["blob"]["incompressible"]
    assert not got["prose"]["too_repetitive"]
    assert not got["prose"]["incompressible"]
