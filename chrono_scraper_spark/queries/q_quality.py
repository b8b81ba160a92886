"""Robots rules + LLM-data quality: Gopher, LM scoring, packing, tokenizers, sampling.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import cdx_pages_view
from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.functions import textops as T
from chrono_scraper_spark.operators.dedup import snapshot_diff

from ._shared import _PRELUDE, _cand, _t
from .q_textdocs import _SQL_DOCS_CLONES, _docs_with_clones


def q_robots_rules(spark, sf_dir):
    """P10 robots.txt parsing, value-checked: every distinct host in the
    CDX corpus gets a templated robots body (a '*' group with one
    Disallow + one Allow, plus a 'cc-bot' group that must NOT leak into
    the '*' view per RFC 9309 most-specific-group semantics); the engine
    parses the bodies with ``parse_robots``; the oracle derives the
    expected rule rows from the same template in closed form."""
    from chrono_scraper_spark.operators.politeness import parse_robots

    hosts = _cand(spark, sf_dir).select("host").distinct()
    h = F.col("host")
    tag = F.substring(F.md5(h), 1, 4)   # md5: portable to the oracle
    body = F.concat(
        F.lit("# generated\nUser-agent: *\nDisallow: /private-"), tag,
        F.lit("/\nAllow: /private-"), tag,
        F.lit("/ok/\n\nUser-agent: cc-bot\nDisallow: /cc-only/\n"))
    robots = hosts.select("host", body.alias("body"))
    return parse_robots(robots).select("host", "path_prefix", "allowed")

SQL_ROBOTS_RULES = _PRELUDE + """
, hosts AS (SELECT DISTINCT host FROM cand),
tagged AS (SELECT host, substr(md5(host), 1, 4) AS tag FROM hosts)
SELECT host, '/private-' || tag || '/' AS path_prefix, FALSE AS allowed
FROM tagged
UNION ALL
SELECT host, '/private-' || tag || '/ok/' AS path_prefix, TRUE AS allowed
FROM tagged"""

_WILDCARD_RULES = [
    ("/*.pdf$", False),                  # blocks /paper-N.pdf
    ("/journal/*/article-", False),      # blocks journal articles...
    ("/journal/vol-3/article-*", True),  # ...except vol-3 (more octets)
    ("/index.html$", False),             # exact only (no query strings)
    ("/wp-admin/", False),               # plain prefix control
]

def q_robots_wildcard(spark, sf_dir):
    """P10 matching semantics, value-checked end-to-end: every host gets
    the same RFC 9309 wildcard ruleset (``*`` any-sequence, trailing
    ``$`` end-anchor, most-octets-wins specificity, Allow wins ties) and
    ``robots_filter`` keeps the allowed frontier rows; the oracle
    replays the ruleset relationally (regexp join + per-URL argmax).
    Reference analog: urllib.robotparser honors * and $ the same way
    Google's matcher does; prefix-only matching silently over-crawls."""
    from chrono_scraper_spark.operators.politeness import robots_filter

    cand = _cand(spark, sf_dir)
    hosts = cand.select("host").distinct()
    rules = hosts.crossJoin(
        spark.createDataFrame(_WILDCARD_RULES,
                              "path_prefix string, allowed boolean"))
    return (robots_filter(cand.select("url", "ts14", "host", "path"), rules)
            .select("url", "ts14", "host", "path"))

_WILDCARD_RULES_DUCK = """rules(rx, spec, allowed) AS (VALUES
  ('^/.*\\.pdf$', 8, FALSE),
  ('^/journal/.*/article-', 19, FALSE),
  ('^/journal/vol-3/article-.*', 24, TRUE),
  ('^/index\\.html$', 12, FALSE),
  ('^/wp-admin/', 10, FALSE))"""

SQL_ROBOTS_WILDCARD = _PRELUDE + f""",
{_WILDCARD_RULES_DUCK},
m AS (
  SELECT c.url, c.ts14, r.allowed,
    row_number() OVER (PARTITION BY c.url, c.ts14
                       ORDER BY r.spec DESC, r.allowed DESC) AS rn
  FROM cand c JOIN rules r ON regexp_matches(c.path, r.rx)
)
SELECT url, ts14, host, path FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM m
                  WHERE m.rn = 1 AND NOT m.allowed
                    AND m.url = c.url AND m.ts14 = c.ts14)"""

SQL_PDF_EXTRACTION_IDENTITY = _PRELUDE + """
SELECT url, ts14, md5(text) AS text_md5,
  'doc ' || CAST(doc_id AS VARCHAR) AS title,
  'pdf' AS method,
  md5('# doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || text)
    AS markdown_md5,
  strftime(warc_ts, '%Y-%m-%d') AS pub_date
FROM pages_cdx WHERE mime = 'application/pdf'"""

def q_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText quality+repetition rules over ``documents`` —
    per-row projection, zero exchanges (operators/quality.py). The oracle is
    an *independent relational implementation*: it computes the n-gram
    repetition stats by unnest + GROUP BY instead of the engine's sorted
    one-pass array aggregate, so agreement checks the semantics, not the
    code shape."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.gopher_signals(d).drop("text")

_WS_TOKS_SQL = ("list_filter(string_split_regex(trim(coalesce(text, '')), "
                "'\\s+'), w -> w != '')")

SQL_GOPHER_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, coalesce(text, '') AS t, {_WS_TOKS_SQL} AS tk
  FROM documents
),
base AS (
  SELECT doc_id, t, tk,
    len(tk) AS n_words,
    greatest(len(tk), 1) AS nw,
    greatest(length(t), 1) AS n_chars,
    length(regexp_replace(t, '\\s', '', 'g')) AS chars_nospace,
    list_filter(string_split(t, chr(10)), l -> trim(l) != '') AS lines
  FROM toks
),
tl AS (  -- per-word character lengths by 1-based position
  SELECT doc_id, length(unnest(tk)) AS wlen, generate_subscripts(tk, 1) AS p
  FROM toks
),
g2 AS (SELECT doc_id, unnest({OG.kgrams_sql('tk', 2)}) AS gram,
              generate_subscripts({OG.kgrams_sql('tk', 2)}, 1) AS s
       FROM toks),
top2sel AS (  -- most frequent 2-gram; count tie -> lexicographically least
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, row_number() OVER (
      PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
    FROM g2 GROUP BY doc_id, gram)
  WHERE rn = 1
),
cov2 AS (  -- word positions covered by ANY occurrence of the top gram
  SELECT DISTINCT o.doc_id, o.s + d.d AS p
  FROM g2 o
  JOIN top2sel t ON o.doc_id = t.doc_id AND o.gram = t.gram
  CROSS JOIN (SELECT unnest([0, 1]) AS d) d
),
top2 AS (
  SELECT c.doc_id, sum(tl.wlen) AS topchars
  FROM cov2 c JOIN tl ON tl.doc_id = c.doc_id AND tl.p = c.p
  GROUP BY c.doc_id
),
g5 AS (SELECT doc_id, unnest({OG.kgrams_sql('tk', 5)}) AS gram,
              generate_subscripts({OG.kgrams_sql('tk', 5)}, 1) AS s
       FROM toks),
d5occ AS (  -- non-FIRST occurrences of every duplicated 5-gram
  SELECT doc_id, s FROM (
    SELECT doc_id, s, row_number() OVER (
      PARTITION BY doc_id, gram ORDER BY s) AS rn
    FROM g5)
  WHERE rn > 1
),
cov5 AS (
  SELECT DISTINCT o.doc_id, o.s + d.d AS p
  FROM d5occ o CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS d) d
),
dup5 AS (
  SELECT c.doc_id, sum(tl.wlen) AS dupchars
  FROM cov5 c JOIN tl ON tl.doc_id = c.doc_id AND tl.p = c.p
  GROUP BY c.doc_id
),
sig AS (
  SELECT b.doc_id,
    CAST(b.n_words AS BIGINT) AS n_words,
    round(b.chars_nospace / b.nw, 6) AS mean_word_len,
    round(len(list_filter(b.tk, w -> regexp_matches(w, '\\p{{L}}'))) / b.nw,
          6) AS alpha_word_frac,
    round(len(regexp_extract_all(b.t, '#|\\.\\.\\.')) / b.nw, 6)
      AS symbol_word_ratio,
    CAST({OG.stopword_hits_sql('b.t', 'en')} AS BIGINT) AS stop_hits,
    round(len(list_filter(b.lines, l -> regexp_matches(l, '^\\s*[-*•]')))
          / greatest(len(b.lines), 1), 6) AS bullet_line_frac,
    round(len(list_filter(b.lines,
                          l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))
          / greatest(len(b.lines), 1), 6) AS ellipsis_line_frac,
    round((len(b.lines) - len(list_distinct(b.lines)))
          / greatest(len(b.lines), 1), 6) AS dup_line_frac,
    round(coalesce(t2.topchars, 0) / greatest(b.chars_nospace, 1), 6)
      AS top2gram_char_frac,
    round(coalesce(d5.dupchars, 0) / greatest(b.chars_nospace, 1), 6)
      AS dup5gram_char_frac
  FROM base b
  LEFT JOIN top2 t2 USING (doc_id)
  LEFT JOIN dup5 d5 USING (doc_id)
)
SELECT *,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_word_ratio <= 0.1 AND alpha_word_frac >= 0.8
   AND stop_hits >= 2 AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3 AND dup_line_frac <= 0.3
   AND top2gram_char_frac <= 0.20 AND dup5gram_char_frac <= 0.15)
  AS passes_gopher
FROM sig"""

def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination over the planted-clone corpus: benchmark =
    the %25 originals, corpus = their tail-mutated clones + %40 exact
    copies + the remaining originals. Clones share nearly all 8-grams with
    their benchmark source → high hit counts; untouched docs appear only on
    random shingle collisions. Plan: explode ⋈ broadcast(benchmark grams) →
    map-side-combined count (operators/quality.py:decontaminate)."""
    from chrono_scraper_spark.operators import quality as Q

    docs2 = _docs_with_clones(spark, sf_dir)
    bench = docs2.filter((F.col("doc_id") % 25 == 0)
                         & (F.col("doc_id") < 1000000))
    corpus = docs2.filter((F.col("doc_id") >= 1000000)
                          | (F.col("doc_id") % 25 != 0))
    return Q.decontaminate(corpus, bench, k=8)

SQL_DECONTAMINATE = f"""WITH {_SQL_DOCS_CLONES},
tk AS (SELECT doc_id, {OG.tokens_sql('text')} AS tk FROM docs2),
bt AS (SELECT DISTINCT unnest({OG.kgrams_sql('tk', 8)}) AS gram
       FROM tk WHERE doc_id % 25 = 0 AND doc_id < 1000000),
cg AS (SELECT doc_id, unnest({OG.kgrams_sql('tk', 8)}) AS gram
       FROM tk WHERE doc_id >= 1000000 OR doc_id % 25 <> 0)
SELECT cg.doc_id, count(DISTINCT cg.gram) AS n_hit_grams,
       count(*) AS n_hit_occurrences, TRUE AS contaminated
FROM cg JOIN bt ON cg.gram = bt.gram
GROUP BY cg.doc_id"""

def q_boilerplate_strip(spark, sf_dir):
    """C4/CCNet boilerplate-line removal, value-checked on a corpus with
    planted chrome: every even doc gets a cookie-banner header line, every
    %3 doc a copyright footer. Lines in ≥50 distinct docs are boilerplate
    (the banner: ~250 docs, the footer: ~167; real content lines repeat
    only for natural exact-dup docs, far below 50). Output = md5 of the
    cleaned text + removal count per doc; the oracle recomputes the whole
    algorithm relationally (line DF via unnest+GROUP BY, rebuild via
    order-preserving list_filter)."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    banner = F.concat(F.lit("please accept our cookies\n"), F.col("text"))
    footer = F.concat(F.col("text"), F.lit("\ncopyright example footer"))
    d2 = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, banner).otherwise(F.col("text")))
    d2 = d2.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, footer).otherwise(F.col("text")))
    out = Q.strip_boilerplate_lines(d2, min_doc_freq=50)
    return out.select("doc_id", F.md5("clean_text").alias("clean_md5"),
                      "n_lines_removed")

_NORM_LINE = "md5(trim(regexp_replace(lower({l}), '\\s+', ' ', 'g')))"

SQL_BOILERPLATE_STRIP = f"""
WITH d2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN base || chr(10) || 'copyright example footer'
         ELSE base END AS text
  FROM (SELECT doc_id,
          CASE WHEN doc_id % 2 = 0
               THEN 'please accept our cookies' || chr(10) || text
               ELSE text END AS base
        FROM documents)
),
lx AS (
  SELECT doc_id,
    unnest(list_filter(string_split(coalesce(text, ''), chr(10)),
                       l -> length(trim(l)) >= 1)) AS line
  FROM d2
),
freq AS (
  SELECT {_NORM_LINE.format(l='line')} AS line_hash,
         count(DISTINCT doc_id) AS nd
  FROM lx GROUP BY 1 HAVING count(DISTINCT doc_id) >= 50
),
bad AS (SELECT coalesce(list_sort(list(line_hash)), []) AS bad FROM freq)
SELECT doc_id,
  md5(array_to_string(
    list_filter(
      list_filter(string_split(coalesce(text, ''), chr(10)),
                  l -> length(trim(l)) > 0),
      l -> NOT list_contains(bad, {_NORM_LINE.format(l='l')})),
    chr(10))) AS clean_md5,
  CAST(len(list_filter(string_split(coalesce(text, ''), chr(10)),
                       l -> length(trim(l)) > 0))
       - len(list_filter(
           list_filter(string_split(coalesce(text, ''), chr(10)),
                       l -> length(trim(l)) > 0),
           l -> NOT list_contains(bad, {_NORM_LINE.format(l='l')})))
       AS BIGINT) AS n_lines_removed
FROM d2, bad"""

def q_unigram_logprob(spark, sf_dir):
    """CCNet perplexity-bucket analog: unigram LM built on the even docs,
    the odd docs scored (mean add-one-smoothed log10 prob + OOV counts).
    Model side is broadcast; the mean sums nano-quantized longs so the
    value is bit-identical across partitionings and engines."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    model = (train.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("cnt")))
    return Q.unigram_logprob(test, model=model)

_SQL_UNIGRAM_CTES = f"""tr AS (
  SELECT unnest({OG.tokens_sql('text')}) AS tok
  FROM documents WHERE doc_id % 2 = 0
),
model AS (SELECT tok, count(*) AS cnt FROM tr GROUP BY tok),
tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM model),
te AS (
  SELECT doc_id, unnest({OG.tokens_sql('text')}) AS tok
  FROM documents WHERE doc_id % 2 = 1
),
s AS (
  SELECT te.doc_id, m.cnt,
    CAST(floor(log10((coalesce(m.cnt, 0) + 1)
                     / (tot.total + tot.vocab)) * 1e9) AS BIGINT)
      AS logp_nano
  FROM te LEFT JOIN model m USING (tok), tot
),
lm_scored AS (
  SELECT doc_id,
    round(CAST(sum(logp_nano) AS DOUBLE) / count(*) / 1e9, 6)
      AS mean_logprob,
    count(*) AS n_tokens,
    CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM s GROUP BY doc_id
)"""

SQL_UNIGRAM_LOGPROB = f"""
WITH {_SQL_UNIGRAM_CTES}
SELECT doc_id, mean_logprob, n_tokens, n_oov FROM lm_scored"""

def q_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail per-language bucketing over the unigram-LM
    scores: exact per-lang tercile thresholds from one percentile agg
    (broadcast back; no per-language sort — see quality.lm_buckets)."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    model = (train.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("cnt")))
    scored = (Q.unigram_logprob(test.select("doc_id", "text"), model=model)
              .join(d.select("doc_id", "lang"), "doc_id")
              .select("doc_id", "lang", "mean_logprob"))
    return Q.lm_buckets(scored)

SQL_LM_BUCKETS = f"""
WITH {_SQL_UNIGRAM_CTES},
sl AS (
  SELECT lm_scored.doc_id, d.lang, lm_scored.mean_logprob
  FROM lm_scored JOIN documents d USING (doc_id)
),
th AS (
  SELECT lang, quantile_cont(mean_logprob, [1.0/3, 2.0/3]) AS t
  FROM sl GROUP BY lang
)
SELECT sl.doc_id, sl.lang, sl.mean_logprob,
  CASE WHEN mean_logprob >= t[2] THEN 'head'
       WHEN mean_logprob >= t[1] THEN 'middle'
       ELSE 'tail' END AS bucket
FROM sl JOIN th USING (lang)"""

def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    bag models (256 buckets via leading md5 hex digits), nano-quantized
    log importance ratios, deterministic Gumbel-top-k selection of 100 docs.
    Target distribution = doc_id % 7 == 0; raw = the rest. The oracle
    recomputes models, weights, Gumbel keys and ranking relationally."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = d.filter(F.col("doc_id") % 7 == 0)
    raw = d.filter(F.col("doc_id") % 7 != 0)
    return Q.dsir_sample(raw, target, k=100, hash_digits=2)

SQL_DSIR_SAMPLE = f"""
WITH tk AS (SELECT doc_id, {OG.tokens_sql('text')} AS t FROM documents),
gr AS (
  SELECT doc_id,
    unnest(list_concat(t, {OG.kgrams_sql('t', 2)})) AS g
  FROM tk
),
gb AS (SELECT doc_id, {OG.hex_int_sql('md5(g)', 1, 2)} AS b FROM gr),
tc AS (SELECT b, count(*) AS tcnt FROM gb WHERE doc_id % 7 = 0 GROUP BY b),
rc AS (SELECT b, count(*) AS rcnt FROM gb WHERE doc_id % 7 != 0 GROUP BY b),
tt AS (SELECT sum(tcnt) AS tot_t FROM tc),
tr AS (SELECT sum(rcnt) AS tot_r FROM rc),
model AS (
  SELECT coalesce(tc.b, rc.b) AS b,
    CAST(floor((ln((coalesce(tcnt, 0) + 1) / (tot_t + 256))
              - ln((coalesce(rcnt, 0) + 1) / (tot_r + 256))) * 1e9)
         AS BIGINT) AS lograt_nano
  FROM tc FULL JOIN rc ON tc.b = rc.b, tt, tr
),
sc AS (
  SELECT gb.doc_id, count(*) AS n_grams,
         CAST(sum(m.lograt_nano) AS BIGINT) AS logw_nano
  FROM gb JOIN model m USING (b) WHERE gb.doc_id % 7 != 0
  GROUP BY gb.doc_id
),
allraw AS (SELECT doc_id FROM documents WHERE doc_id % 7 != 0),
gk AS (
  SELECT a.doc_id, coalesce(n_grams, 0) AS n_grams,
    coalesce(logw_nano, 0) AS logw_nano,
    CAST(floor(-ln(-ln(
      ({OG.hex_int_sql("md5('dsir:' || CAST(a.doc_id AS VARCHAR))", 1, 12)}
       + 0.5) / 281474976710656.0)) * 1e9) AS BIGINT) AS gumbel_nano
  FROM allraw a LEFT JOIN sc ON a.doc_id = sc.doc_id
)
SELECT doc_id, n_grams, logw_nano, gumbel_nano,
  logw_nano + gumbel_nano AS key_nano,
  CAST(row_number() OVER (ORDER BY (logw_nano + gumbel_nano) DESC, doc_id)
       AS INT) AS rank
FROM gk
ORDER BY key_nano DESC, doc_id LIMIT 100"""

def q_line_dedup(spark, sf_dir):
    """In-document exact line dedup (quality.dedup_lines_within_doc):
    docs with doc_id % 3 == 0 get their own first line re-appended, so the
    operator must drop exactly that planted duplicate (plus any natural
    ones); value-checked via md5 of the rebuilt text."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    first = F.element_at(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\n"), 1)
    d2 = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat_ws("\n", F.col("text"), first))
        .otherwise(F.col("text")))
    out = Q.dedup_lines_within_doc(d2)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").cast("long").alias("clean_chars"),
        "n_lines_removed")

SQL_LINE_DEDUP = r"""
WITH d2 AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0
    THEN text || chr(10) || string_split(text, chr(10))[1]
    ELSE text END AS text
  FROM documents
),
lt AS (
  SELECT doc_id,
    list_filter(string_split(coalesce(text, ''), chr(10)),
                x -> length(trim(x)) > 0) AS ln
  FROM d2
),
h AS (
  SELECT doc_id, ln,
    list_transform(ln,
      x -> md5(trim(regexp_replace(lower(x), '\s+', ' ', 'g')))) AS hs
  FROM lt
),
k AS (
  SELECT doc_id, ln,
    list_filter(
      list_transform(range(1, len(ln) + 1),
        i -> CASE WHEN list_position(hs, hs[i]) = i THEN ln[i] END),
      x -> x IS NOT NULL) AS kept
  FROM h
)
SELECT doc_id,
  md5(array_to_string(kept, chr(10))) AS clean_md5,
  CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars,
  CAST(len(ln) - len(kept) AS BIGINT) AS n_lines_removed
FROM k"""

def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: documents concatenated in doc_id order
    into a token stream cut into 512-token sequences; per doc the absolute
    stream offset + first/last sequence id. The engine computes the global
    prefix sum with the two-phase range-partition/offset-broadcast shape
    (no one-partition window); the oracle is a plain window cumsum."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.pack_sequences(d, seq_len=512)

SQL_PACK_SEQUENCES = f"""
WITH sized AS (
  SELECT doc_id,
    CAST({OG.token_count_ws_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_tok
  FROM sized
)
SELECT doc_id, n_tokens, start_tok,
  CAST(start_tok // 512 AS BIGINT) AS first_seq,
  CAST(CASE WHEN n_tokens = 0 THEN start_tok // 512
       ELSE (start_tok + n_tokens - 1) // 512 END AS BIGINT) AS last_seq
FROM cum"""

def q_pack_emit(spark, sf_dir):
    """Materialized packed training batches: one row per 512-token
    sequence with hashed-vocab input_ids, tail padded. Doc-span slices +
    one seq_id shuffle — never a per-token explode on the engine side;
    the oracle IS the per-token explode (fine at sf0.01, fatal at scale)."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = Q.pack_emit(d, seq_len=512)
    # engine op returns array<long>; contract row serializes it (the
    # registry's array convention — cf. minhash_signatures)
    return out.select("seq_id", "n_filled",
                      F.concat_ws("|", F.col("input_ids").cast(
                          "array<string>")).alias("input_ids"))

SQL_PACK_EMIT = f"""
WITH toks AS (
  SELECT doc_id, list_transform({{toks}},
    x -> CAST({{hx}} % 32768 AS BIGINT)) AS ids
  FROM documents
),
cum AS (
  SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n,
    CAST(coalesce(sum(len(ids)) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_tok
  FROM toks
),
tok AS (
  SELECT CAST((c.start_tok + t.i) // 512 AS BIGINT) AS seq_id,
         c.start_tok + t.i AS pos, c.ids[CAST(t.i AS INT) + 1] AS tid
  FROM cum c, unnest(range(0, c.n)) AS t(i)
)
SELECT seq_id, CAST(count(*) AS BIGINT) AS n_filled,
  array_to_string(list(tid ORDER BY pos) ||
    list_transform(range(512 - count(*)), x -> CAST(0 AS BIGINT)), '|')
    AS input_ids
FROM tok GROUP BY seq_id""".format(
    toks=OG.tokens_sql("text"), hx=OG.hex_int_sql("md5(x)", 1, 8))

def q_shard_assign(spark, sf_dir):
    """Deterministic corpus export sharding: byte-offset prefix sum →
    fixed-size shard ids (what drives whole-shard output tasks at write
    time). Engine: two-phase prefix sum; oracle: window cumsum."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.assign_shards(d, shard_bytes=65536)

SQL_SHARD_ASSIGN = """
WITH sized AS (
  SELECT doc_id,
    CAST(length(coalesce(text, '')) AS BIGINT) AS n_bytes
  FROM documents
),
cum AS (
  SELECT doc_id, n_bytes,
    CAST(coalesce(sum(n_bytes) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_byte
  FROM sized
)
SELECT doc_id, n_bytes, start_byte,
  CAST(start_byte // 65536 AS BIGINT) AS shard,
  CASE WHEN n_bytes = 0 THEN false
       ELSE start_byte // 65536 != (start_byte + n_bytes - 1) // 65536
       END AS straddles
FROM cum"""

def q_crawl_diff(spark, sf_dir):
    """Incremental-crawl snapshot diff (the CDC shape of the url_seen
    table between two catalog versions): two deterministic snapshots of
    the same url space — old omits doc_id%5==4 (→ added), new omits
    doc_id%5==0 (→ removed), doc_id%7==0 pages change content between
    crawls (→ changed) — full-outer joined and classified. All four
    classes are populated at every sf."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    url = F.concat(F.lit("https://site"),
                   (F.col("doc_id") % 40).cast("string"),
                   F.lit(".com/doc-"), F.col("doc_id").cast("string"))
    old = (d.filter(F.col("doc_id") % 5 != 4)
           .select(url.alias("url"), F.md5("text").alias("digest")))
    new = (d.filter(F.col("doc_id") % 5 != 0)
           .select(url.alias("url"),
                   F.md5(F.when(F.col("doc_id") % 7 == 0,
                                F.concat(F.col("text"), F.lit("!")))
                         .otherwise(F.col("text"))).alias("digest")))
    return snapshot_diff(old, new)

SQL_CRAWL_DIFF = """
WITH old AS (
  SELECT 'https://site' || CAST(doc_id % 40 AS VARCHAR) || '.com/doc-'
         || CAST(doc_id AS VARCHAR) AS url,
         md5(text) AS digest
  FROM documents WHERE doc_id % 5 != 4
),
new AS (
  SELECT 'https://site' || CAST(doc_id % 40 AS VARCHAR) || '.com/doc-'
         || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || '!' ELSE text END)
           AS digest
  FROM documents WHERE doc_id % 5 != 0
)
SELECT coalesce(o.url, n.url) AS url,
  o.digest AS old_digest, n.digest AS new_digest,
  CASE WHEN o.url IS NULL THEN 'added'
       WHEN n.url IS NULL THEN 'removed'
       WHEN o.digest = n.digest THEN 'unchanged'
       ELSE 'changed' END AS change
FROM old o FULL OUTER JOIN new n ON o.url = n.url"""

_WP_TOP = 25

_WP_ALPHABET = "abcdefghijklmnopqrstuvwxz"  # 'y' deliberately absent: words

def q_wordpiece_encode(spark, sf_dir):
    """Tokenizer application (the apply half; vocab_topk is the counting
    half): greedy longest-match-first WordPiece encode of every document
    against a corpus-derived vocab (top-25 whole words + an incomplete
    single-char alphabet, '##' continuations, whole-word [UNK]).
    Engine: broadcast-frozenset codebook + one Arrow-batched pandas UDF
    pass, zero shuffles. Oracle: the same greedy loop as a recursive CTE
    with a LATERAL longest-match probe, run once per DISTINCT word."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = Q.wordpiece_vocab(d, top_words=_WP_TOP, alphabet=_WP_ALPHABET)
    return Q.wordpiece_encode(d, vocab)

_WP_ALPHA_SQL = ", ".join(f"('{c}')" for c in _WP_ALPHABET)

SQL_WORDPIECE_ENCODE = f"""WITH RECURSIVE
c AS (
  SELECT u.t AS token, count(*) AS n
  FROM documents, unnest({OG.tokens_sql('text')}) AS u(t)
  GROUP BY u.t
),
topw AS (SELECT token FROM c ORDER BY n DESC, token LIMIT {_WP_TOP}),
alpha(ch) AS (SELECT * FROM (VALUES {_WP_ALPHA_SQL})),
vocab(piece) AS (
  SELECT token FROM topw
  UNION SELECT ch FROM alpha
  UNION SELECT '##' || ch FROM alpha
),
toks AS (SELECT doc_id, {OG.tokens_sql('text')} AS tk FROM documents),
occ AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS widx, unnest(tk) AS word
  FROM toks
),
words AS (SELECT DISTINCT word FROM occ),
wenc(word, pos, piece, ord, fail) AS (
  SELECT word, CAST(1 AS BIGINT), CAST(NULL AS VARCHAR), 0,
         len(word) > 100
  FROM words
  UNION ALL
  SELECT s.word,
         CASE WHEN m.best IS NULL THEN CAST(len(s.word) + 1 AS BIGINT)
              ELSE s.pos + m.eff END,
         m.best, s.ord + 1, m.best IS NULL
  FROM wenc s LEFT JOIN LATERAL (
    SELECT v.piece AS best,
           CAST(CASE WHEN s.pos = 1 THEN len(v.piece)
                     ELSE len(v.piece) - 2 END AS BIGINT) AS eff
    FROM vocab v
    WHERE (s.pos = 1 AND substr(v.piece, 1, 2) != '##'
           AND substr(s.word, 1, len(v.piece)) = v.piece)
       OR (s.pos > 1 AND substr(v.piece, 1, 2) = '##'
           AND substr(s.word, CAST(s.pos AS INT), len(v.piece) - 2)
               = substr(v.piece, 3))
    ORDER BY eff DESC LIMIT 1
  ) m ON true
  WHERE s.pos <= len(s.word) AND NOT s.fail
),
wres AS (
  SELECT word,
    CASE WHEN bool_or(fail) THEN '[UNK]'
         ELSE string_agg(piece, ' ' ORDER BY ord) END AS pieces,
    CASE WHEN bool_or(fail) THEN 1 ELSE count(piece) END AS np,
    CASE WHEN bool_or(fail) THEN 1 ELSE 0 END AS unk
  FROM wenc GROUP BY word
),
de AS (
  SELECT o.doc_id, o.widx, r.pieces, r.np, r.unk
  FROM occ o JOIN wres r USING (word)
)
SELECT d.doc_id,
  CAST(coalesce(sum(de.np), 0) AS BIGINT) AS n_pieces,
  CAST(coalesce(sum(de.unk), 0) AS BIGINT) AS n_unk_words,
  md5(coalesce(string_agg(de.pieces, ' ' ORDER BY de.widx), ''))
    AS piece_sig
FROM documents d LEFT JOIN de ON de.doc_id = d.doc_id
GROUP BY d.doc_id"""

def q_vocab_topk(spark, sf_dir):
    """Vocabulary construction (tokenizer counting pass): top-500 corpus
    tokens by (count desc, token), stable ids. Explode → map-side-combined
    hash agg → TakeOrderedAndProject; the rank window only ever sees the
    500 survivors."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("text")
    return Q.build_vocab(d, size=500)

SQL_VOCAB_TOPK = f"""
WITH c AS (
  SELECT u.t AS token, count(*) AS n
  FROM documents, unnest({OG.tokens_sql('text')}) AS u(t)
  GROUP BY u.t
),
top AS (
  SELECT token, n FROM c ORDER BY n DESC, token LIMIT 500
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT)
         AS token_id,
       token, CAST(n AS BIGINT) AS n
FROM top"""

def q_fasttext_quality(spark, sf_dir):
    """fastText-architecture quality-classifier inference over documents:
    hashed-bucket token weights → integer fold → sigmoid gate. The whole
    inference is a zero-shuffle codegen projection (no explode/join)."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return Q.fasttext_score(d)

_FT_W = (f"CAST((({OG.hex_int_sql('md5(x)', 1, 8)} % 4096) * 2654435761) "
         f"% 2001 - 1000 AS BIGINT)")

SQL_FASTTEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, {OG.tokens_sql('text')} AS toks FROM documents
),
s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(coalesce(list_sum(list_transform(toks, x -> {_FT_W})), 0)
         AS BIGINT) AS w_sum
  FROM t
)
SELECT doc_id, n_tokens, w_sum,
  CAST(CASE WHEN n_tokens = 0 THEN 500000
       ELSE round(1e6 / (1.0 + exp(-(w_sum / (n_tokens * 1000.0)))))
       END AS BIGINT) AS score_micro,
  (n_tokens > 0 AND
   CAST(CASE WHEN n_tokens = 0 THEN 500000
        ELSE round(1e6 / (1.0 + exp(-(w_sum / (n_tokens * 1000.0)))))
        END AS BIGINT) >= 500000) AS keep
FROM s"""

def q_mix_rebalance(spark, sf_dir):
    """Data-mixing rebalance: deterministic subsampling that equalizes
    per-source token shares (uniform target), most-underrepresented source
    kept whole. One stratum-cardinality agg + broadcast joins; the corpus
    is never shuffled."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return Q.mix_rebalance(d)

SQL_MIX_REBALANCE = f"""
WITH sized AS (
  SELECT doc_id, source,
    CAST({OG.token_count_ws_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
),
tot AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM sized GROUP BY source
),
tgt AS (
  SELECT source, src_tokens,
    CAST(1000000 // (SELECT count(*) FROM tot) AS BIGINT) AS target_ppm
  FROM tot
),
r AS (
  SELECT source, target_ppm,
    CASE WHEN src_tokens > 0
         THEN CAST(target_ppm * 1000000000 // src_tokens AS BIGINT)
         ELSE 0 END AS rate_e9
  FROM tgt
),
acc AS (
  SELECT source,
    CASE WHEN rate_e9 = (SELECT max(rate_e9) FROM r) AND rate_e9 > 0
         THEN 1000000
         WHEN (SELECT max(rate_e9) FROM r) > 0
         THEN CAST(floor(CAST(rate_e9 AS DOUBLE) * 1e6
                         / (SELECT max(rate_e9) FROM r)) AS BIGINT)
         ELSE 0 END AS accept_ppm
  FROM r
)
SELECT s.doc_id, s.source, s.n_tokens, a.accept_ppm,
  ({OG.hex_int_sql("md5('mix:' || CAST(s.doc_id AS VARCHAR))", 1, 8)}
   % 1000000) < a.accept_ppm AS keep
FROM sized s JOIN acc a USING (source)"""

def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: the 10 smallest-md5(doc_id) docs
    per source, ranked — the data-mixing per-domain cap sample. Runs the
    two-phase mega-stratum path (salt_k=4); the oracle computes the sample
    with a single direct window, so a green row also proves the pre-prune
    is result-invariant."""
    from chrono_scraper_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return Q.stratified_sample(d, "source", cap=10, key_col="doc_id",
                               salt_k=4)

SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source, CAST(rn AS INT) AS sample_rank FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= 10"""

def q_host_authority(spark, sf_dir):
    """Iterative host-authority (integer PageRank, 5 iterations) over a
    deterministic synthetic link graph: each page links its host to the
    host the corpus formula assigns to k=(doc_id·7+3)%500. Both engines
    derive the identical edge list from the pages table, and every rank
    update is integer floor-division + long sums, so after 5 Pregel-style
    iterations the nano-scaled ranks are BIT-identical to the oracle's
    5 chained relational CTEs (operators/graph.py)."""
    from chrono_scraper_spark.operators import graph as G

    pages = cdx_pages_view(spark, sf_dir)
    k = (F.col("doc_id") * 7 + 3) % 500
    dst = (F.when(k % 3 == 0, F.lit("mega.example.com"))
           .when(k % 20 == 1, F.concat(F.lit("univ"),
                                       (k % 4).cast("string"),
                                       F.lit(".edu")))
           .when(k % 20 == 2, F.concat(F.lit("agency"),
                                       (k % 3).cast("string"),
                                       F.lit(".gov")))
           .otherwise(F.concat(F.lit("site"), (k % 40).cast("string"),
                               F.lit(".com"))))
    edges = pages.select(F.col("host").alias("src"),
                         dst.alias("dst")).distinct()
    return G.host_authority(edges, iters=5)

def q_authority_budgets(spark, sf_dir):
    """Authority-proportional crawl-budget apportionment
    (operators/politeness.py ``authority_budgets``): a 1,000-fetch round
    budget split across hosts by largest-remainder (Hamilton) method over
    the integer PageRank ranks — exact integer quotas, leftover seats to
    the largest remainders (host asc ties), min 1 per host. The oracle
    replays the apportionment relationally on the same rank CTEs."""
    from chrono_scraper_spark.operators import graph as G
    from chrono_scraper_spark.operators.politeness import authority_budgets

    pages = cdx_pages_view(spark, sf_dir)
    k = (F.col("doc_id") * 7 + 3) % 500
    dst = (F.when(k % 3 == 0, F.lit("mega.example.com"))
           .when(k % 20 == 1, F.concat(F.lit("univ"),
                                       (k % 4).cast("string"),
                                       F.lit(".edu")))
           .when(k % 20 == 2, F.concat(F.lit("agency"),
                                       (k % 3).cast("string"),
                                       F.lit(".gov")))
           .otherwise(F.concat(F.lit("site"), (k % 40).cast("string"),
                               F.lit(".com"))))
    edges = pages.select(F.col("host").alias("src"),
                         dst.alias("dst")).distinct()
    return authority_budgets(G.host_authority(edges, iters=5), 1000)
