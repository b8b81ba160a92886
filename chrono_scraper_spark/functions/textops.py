"""Text-analysis scalar kernels for the training-data pipeline.

All JVM-side column expressions (no Python in the hot path): language-ID by
stopword/charset heuristic, quality scoring, token counting (whitespace +
BPE-ish regex), document fingerprinting, shingling and md5-based MinHash
signatures. The md5 hash family (not xxhash64) is used wherever an operator
needs a DuckDB oracle — md5 is identical in both engines, so the driver can
verify signatures value-for-value.

These extend the reference's analytics surface (word/char counts
shared_pages_scraping.py:195-196, quality scoring
robust_content_extractor.py:113-159) to the dedup/quality ops a 100 TB
training-data pipeline needs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_TOKEN_RE = r"[\p{L}]+|[0-9]+|[^\p{L}0-9\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as",
           "on", "by", "at", "from", "this", "are", "was", "be", "or", "an"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den",
           "nicht", "auf", "ein", "eine", "als", "auch", "sich", "im", "für",
           "werden", "aus"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "en",
           "que", "qui", "dans", "pour", "sur", "avec", "au", "plus", "par",
           "pas"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "en", "un", "una",
           "es", "por", "con", "para", "su", "al", "lo", "como", "más", "o"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break order


def tokens(text: Column) -> Column:
    """Lower-cased unicode word tokens (array<string>)."""
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), TOKEN_SPLIT_RE),
        lambda t: t != F.lit(""),
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish pre-tokenizer count (letters/digits/symbol classes) — the
    token-budget estimator for LLM-training corpora."""
    return F.size(F.regexp_extract_all(F.coalesce(text, F.lit("")),
                                       F.lit(BPE_TOKEN_RE), F.lit(0)))


def stopword_hits(text: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def langid(text: Column) -> Column:
    """N-gram/stopword heuristic language ID over {en,de,fr,es,zh}.

    CJK charset share decides 'zh'; otherwise argmax of per-language
    stopword-hit counts with a deterministic preference order; 'und' when no
    stopword fires. This is the cheap first-pass LID a crawl pipeline runs
    before an ML model — fully vectorized, no UDF.
    """
    cjk = F.length(F.regexp_replace(
        F.coalesce(text, F.lit("")), r"[^一-鿿]", ""))
    total = F.greatest(F.length(F.coalesce(text, F.lit(""))), F.lit(1))
    hits = {lang: stopword_hits(text, lang) for lang in LANG_ORDER}
    best = reduce(F.greatest, hits.values())
    pick = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties (coalesce-like)
        pick = F.when(hits[lang] == best, F.lit(lang)).otherwise(pick)
    return (
        F.when((cjk / total) > 0.2, F.lit("zh"))
        .when(best > 0, pick)
        .otherwise(F.lit("und"))
    )


def text_quality(text: Column) -> Column:
    """0-1 quality score: length, alpha ratio, punctuation burden, stopword
    presence, mean word length (length/punct/stopword ratios per the task
    charter; shape follows robust_content_extractor.py:113-159)."""
    t = F.coalesce(text, F.lit(""))
    length = F.length(t)
    words = token_count_ws(t)
    alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    punct = F.length(F.regexp_replace(t, r"[\p{L}\p{N}\s]", ""))
    sw = stopword_hits(t, "en")
    len_score = F.least(length / F.lit(2000.0), F.lit(1.0))
    alpha_ratio = F.when(length > 0, alpha / length).otherwise(F.lit(0.0))
    punct_penalty = F.when(length > 0,
                           F.least(punct * F.lit(5.0) / length, F.lit(1.0))
                           ).otherwise(F.lit(0.0))
    sw_score = F.when(words > 0,
                      F.least(sw * F.lit(8.0) / words, F.lit(1.0))
                      ).otherwise(F.lit(0.0))
    wordlen = F.when(words > 0, length / words).otherwise(F.lit(0.0))
    wordlen_score = F.when((wordlen >= 3) & (wordlen <= 12), F.lit(1.0)) \
        .otherwise(F.lit(0.3))
    score = (len_score * 0.3 + alpha_ratio * 0.3 + (1 - punct_penalty) * 0.1
             + sw_score * 0.1 + wordlen_score * 0.2)
    return F.round(score, 4)


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized md5 content fingerprint (exact-dedup key).
    Collapse \\s+ runs FIRST, then trim: trim() strips only spaces (in
    Spark and DuckDB alike), so trimming before the collapse would leave a
    doc with a trailing newline fingerprinting differently from its
    newline-free twin (found by hypothesis, test_properties). Portable:
    identical expression runs in the DuckDB oracle."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))),
                                   r"\s+", " "))
    return F.md5(norm)


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles (array<string>, space-joined, may repeat)."""
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )).otherwise(F.when(n > 0, F.array(F.concat_ws(" ", toks)))
                 .otherwise(F.array().cast("array<string>")))


def _let(val: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``val`` ONCE and bind
    it as a lambda variable in ``body``. ``transform``'s collection child
    is evaluated a single time, so ``element_at(transform(array(v), x ->
    body(x)), 1)`` is `let x = v in body(x)` — the only way to stop Spark
    from re-inlining (and re-evaluating) a subexpression referenced inside
    a higher-order-function lambda."""
    return F.element_at(F.transform(F.array(val), body), 1)


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): sorted distinct window-minimum k-gram hashes — the
    guarantee is that any match of length ≥ w+k-1 between two documents
    shares at least one selected fingerprint, at density ~2/(w+1).

    Text is MOSS-normalized (lowercase, non-alphanumerics removed) so
    whitespace/punctuation edits don't shift grams. Hashes are md5 hex
    strings (string min ≡ numeric min over the 128-bit value — same
    portability trick as ``minhash_signature``); a doc shorter than one
    window keeps its single global min; empty docs → empty array. Pure
    array-lambda projection: zero shuffles, and the DuckDB oracle twin
    (``oracle_gen.winnow_fingerprints_sql``) is the same expression.

    Two O(n²) traps are engineered out (measured: 70 s/doc each on a
    200 KB page, vs <1 s total fixed):

    * intermediates are **let-bound** via ``_let`` — referencing an outer
      expression inside a higher-order-function lambda INLINES it, so a
      naive ``array_min(slice(hashes, j, w))`` would recompute the entire
      md5 array for every window;
    * grams come from ``slice`` on a let-bound **char array**, not
      ``substr(i, k)`` — UTF8String.substring locates codepoint ``i`` by
      scanning from the start, making per-gram substr O(i) and the gram
      pass O(n²) on long docs."""
    s0 = F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))),
                          "[^a-z0-9]", "")

    def gram_hashes(chars: Column) -> Column:
        n = F.size(chars)
        grams = F.when(n >= k, F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(chars, i, k), ""),
        )).otherwise(F.array().cast("array<string>"))
        return F.transform(grams, F.md5)

    def window_mins(h: Column) -> Column:
        hn = F.size(h)
        return (F.when(hn >= w, F.transform(
                    F.sequence(F.lit(1), hn - F.lit(w - 1)),
                    lambda j: F.array_min(F.slice(h, j, w))))
                .when(hn > 0, F.array(F.array_min(h)))
                .otherwise(F.array().cast("array<string>")))

    mins = _let(_let(F.split(s0, ""), gram_hashes), window_mins)
    return F.array_sort(F.array_distinct(mins))


def minhash_signature(toks: Column, k: int = 3, n_hashes: int = 12) -> Column:
    """MinHash signature as array<string>: for hash family i, the minimum of
    ``md5(i || ':' || shingle)`` over the document's k-gram shingles. String
    min over hex == numeric min over the 128-bit value, and md5 is portable
    to the DuckDB oracle. Empty docs → nulls."""
    sh = shingles(toks, k)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(sh, lambda s: F.md5(
                F.concat(i.cast("string"), F.lit(":"), s)))),
    )


#: (name, Java regex script class, RE2 script class) — Spark needs the
#: Is-prefix, DuckDB/RE2 the bare name; the CHARACTER SETS are identical
#: (both implement Unicode Script property).
SCRIPTS: list[tuple[str, str, str]] = [
    ("latin", "IsLatin", "Latin"),
    ("cyrillic", "IsCyrillic", "Cyrillic"),
    ("han", "IsHan", "Han"),
    ("arabic", "IsArabic", "Arabic"),
    ("hangul", "IsHangul", "Hangul"),
    ("devanagari", "IsDevanagari", "Devanagari"),
    ("greek", "IsGreek", "Greek"),
]

E6 = 1_000_000


def script_profile(df, text_col: str = "text"):
    """Unicode-script composition per document — the multilingual-corpus
    companion to ``langid`` (which separates languages WITHIN the Latin
    script): per-script character counts, ppm fractions of the total
    script-letter mass, and the dominant script. Mixed-script documents
    (CJK with English quotes, transliteration spam, mojibake survivors)
    are exactly the rows a training-mix curator needs to route or drop.

    One zero-shuffle codegen projection: each count is
    ``length(regexp_replace(text, '[^\\p{Script}]', ''))`` — Java
    spells the class ``IsLatin`` where RE2 says ``Latin``, but both
    implement the same Unicode Script property, so the DuckDB oracle
    counts identical characters. ppm uses integer division over the
    summed script mass (punctuation/digits/whitespace excluded from the
    denominator); ``dominant_script`` ties break by name descending
    (documented; a real tie means the doc is genuinely mixed)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = {name: F.length(F.regexp_replace(
        text, f"[^\\p{{{java}}}]", "")).cast("long")
        for name, java, _re2 in SCRIPTS}
    out = df
    for name, c in counts.items():
        out = out.withColumn(f"n_{name}", c)
    total = None
    for name, _j, _r in SCRIPTS:
        col = F.col(f"n_{name}")
        total = col if total is None else total + col
    out = out.withColumn("script_total", total.cast("long"))
    for name, _j, _r in SCRIPTS:
        out = out.withColumn(
            f"{name}_ppm",
            F.when(F.col("script_total") > 0,
                   F.expr(f"(n_{name} * {E6}) DIV script_total"))
            .otherwise(F.lit(0)).cast("long"))
    best = F.greatest(*[
        F.struct(F.col(f"n_{name}").alias("n"),
                 F.lit(name).alias("s"))
        for name, _j, _r in SCRIPTS])
    return out.withColumn(
        "dominant_script",
        F.when(F.col("script_total") > 0, best["s"]))
