"""Text analysis + dedup over documents: stats, minhash, exact-substring.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.functions import oracle_gen as OG
from chrono_scraper_spark.functions import textops as T
from chrono_scraper_spark.operators import pii as PII
from chrono_scraper_spark.operators import text_dedup as TD

from ._shared import _t


def q_doc_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        T.token_count_ws(t).cast("long").alias("n_tokens_ws"),
        T.token_count_bpe(t).cast("long").alias("n_tokens_bpe"),
        F.length(t).cast("long").alias("n_chars"),
        T.fingerprint(t).alias("fingerprint"))

SQL_DOC_STATS = f"""
SELECT doc_id,
  {OG.token_count_ws_sql('text')} AS n_tokens_ws,
  {OG.token_count_bpe_sql('text')} AS n_tokens_bpe,
  length(text) AS n_chars,
  {OG.fingerprint_sql('text')} AS fingerprint
FROM documents"""

def q_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.langid(F.col("text")).alias("lang_pred"))

SQL_LANGID = f"""
SELECT doc_id, {OG.langid_sql('text')} AS lang_pred FROM documents"""

def _docs_with_pii(spark, sf_dir):
    """Deterministic PII planting (the documents corpus is synthetic prose
    with no organic PII): typed fragments derived from doc_id, mirrored
    verbatim by the oracle CTE chain."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did, text = F.col("doc_id"), F.col("text")
    text = F.when(did % 7 == 0, F.concat(
        text, F.lit(" contact user"), did.cast("string"),
        F.lit("@example.com for details"))).otherwise(text)
    text = F.when(did % 11 == 0, F.concat(
        text, F.lit(" server at 192.168."), (did % 250).cast("string"),
        F.lit("."), ((did * 7) % 250).cast("string"))).otherwise(text)
    text = F.when(did % 13 == 0, F.concat(
        text, F.lit(" call (555) 123-4567 or 555.987.6543 today")))\
        .otherwise(text)
    text = F.when(did % 17 == 0, F.concat(
        text, F.lit(" ssn 123-45-6789 on file"))).otherwise(text)
    return d.select("doc_id", text.alias("text"))

def q_pii_redact(spark, sf_dir):
    """PII anonymization (operators/pii.py): typed placeholder redaction +
    per-family counts, value-checked to the byte via md5 of the redacted
    text. Zero-shuffle projection — the 100 TB shape."""
    out = PII.with_pii_redaction(_docs_with_pii(spark, sf_dir))
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone", "n_pii",
        "has_pii", F.md5(F.col("text_redacted")).alias("redacted_md5"))

def _sql_docs_with_pii() -> str:
    return """
p1 AS (SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
    CAST(doc_id AS VARCHAR) || '@example.com for details'
  ELSE text END AS text FROM documents),
p2 AS (SELECT doc_id,
  CASE WHEN doc_id % 11 = 0 THEN text || ' server at 192.168.' ||
    CAST(doc_id % 250 AS VARCHAR) || '.' ||
    CAST((doc_id * 7) % 250 AS VARCHAR)
  ELSE text END AS text FROM p1),
p3 AS (SELECT doc_id,
  CASE WHEN doc_id % 13 = 0 THEN text ||
    ' call (555) 123-4567 or 555.987.6543 today'
  ELSE text END AS text FROM p2),
docs_pii AS (SELECT doc_id,
  CASE WHEN doc_id % 17 = 0 THEN text || ' ssn 123-45-6789 on file'
  ELSE text END AS text FROM p3)"""

def _sql_pii_redact() -> str:
    c = PII.sql_pii_chain("text")
    return f"""WITH {_sql_docs_with_pii()}
SELECT doc_id,
  {c['n_email']} AS n_email,
  {c['n_ipv4']} AS n_ipv4,
  {c['n_ssn']} AS n_ssn,
  {c['n_phone']} AS n_phone,
  {c['n_email']} + {c['n_ipv4']} + {c['n_ssn']} + {c['n_phone']} AS n_pii,
  ({c['n_email']} + {c['n_ipv4']} + {c['n_ssn']} + {c['n_phone']}) > 0
    AS has_pii,
  md5({c['redacted']}) AS redacted_md5
FROM docs_pii"""

SQL_PII_REDACT = _sql_pii_redact()

def q_minhash_signatures(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sig = T.minhash_signature(T.tokens(F.col("text")), k=3, n_hashes=8)
    return d.select("doc_id", F.concat_ws("|", sig).alias("sig"))

SQL_MINHASH_SIGNATURES = f"""
WITH s AS (
  SELECT doc_id,
    {OG.shingles_sql(OG.tokens_sql('text'), 3)} AS sh
  FROM documents
)
SELECT doc_id,
  array_to_string({OG.minhash_signature_sql('sh', 8)}, '|') AS sig
FROM s"""

def _docs_with_clones(spark, sf_dir):
    """Base docs ∪ tail-mutated clones (%25, +1M) ∪ exact copies (%40, +2M).

    One scan, not three (round 6): the former three-branch union scanned
    ``documents`` once per branch — each with its own scan-parallelism-floor
    exchange of the full text payload — to emit rows that are all derivable
    from a single read. An explode over a per-row condition-filtered fan
    array produces the identical row set (value-checked: exceptAll both
    ways = 0; the consuming oracles hash-match) from one scan and one
    floor exchange. exact_dups measured 2.50 → 1.63 s at sf1.0."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fan = F.filter(
        F.array(
            F.struct(F.lit(0).cast("long").alias("off"),
                     F.lit(True).alias("keep"), F.lit("").alias("sfx")),
            F.struct(F.lit(1000000).cast("long").alias("off"),
                     (F.col("doc_id") % 25 == 0).alias("keep"),
                     F.lit(" extra tail tokens appended").alias("sfx")),
            F.struct(F.lit(2000000).cast("long").alias("off"),
                     (F.col("doc_id") % 40 == 0).alias("keep"),
                     F.lit("").alias("sfx")),
        ), lambda s: s["keep"])
    e = d.select("doc_id", "text", F.explode(fan).alias("c"))
    return e.select((F.col("doc_id") + F.col("c.off")).alias("doc_id"),
                    F.concat(F.col("text"), F.col("c.sfx")).alias("text"))

_SQL_DOCS_CLONES = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         text || ' extra tail tokens appended' AS text
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 40 = 0
)"""

def q_exact_dups(spark, sf_dir):
    return TD.exact_duplicates(_docs_with_clones(spark, sf_dir))

SQL_EXACT_DUPS = f"""WITH {_SQL_DOCS_CLONES},
fp AS (
  SELECT doc_id, {OG.fingerprint_sql('text')} AS fingerprint FROM docs2
)
SELECT doc_id, fingerprint,
  count(*) OVER (PARTITION BY fingerprint) AS group_size,
  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
  doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
FROM fp"""

def q_ngram_jaccard_planted(spark, sf_dir):
    docs = _docs_with_clones(spark, sf_dir)
    base = docs.filter((F.col("doc_id") % 25 == 0)
                       & (F.col("doc_id") < 1000000))
    pairs = base.select(F.col("doc_id").alias("a"),
                        (F.col("doc_id") + 1000000).alias("b"))
    return TD.ngram_jaccard(pairs, docs).withColumn(
        "jaccard", F.round("jaccard", 6))

SQL_NGRAM_JACCARD_PLANTED = f"""WITH {_SQL_DOCS_CLONES},
sh AS (
  SELECT doc_id,
    list_distinct({OG.shingles_sql(OG.tokens_sql('text'), 3)}) AS s
  FROM docs2
),
pairs AS (
  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
  WHERE doc_id % 25 = 0
)
SELECT p.a, p.b,
  round(CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
    THEN len(list_intersect(sa.s, sb.s))
         / len(list_distinct(list_concat(sa.s, sb.s)))
    ELSE 0.0 END, 6) AS jaccard
FROM pairs p
JOIN sh sa ON sa.doc_id = p.a
JOIN sh sb ON sb.doc_id = p.b"""

def q_minhash_pairs(spark, sf_dir):
    docs = _docs_with_clones(spark, sf_dir)
    out = TD.minhash_near_duplicates(docs, n_hashes=12, bands=6,
                                     threshold=0.5)
    return out.withColumn("jaccard", F.round("jaccard", 6))

_SQL_MINHASH_CTES = f"""{_SQL_DOCS_CLONES},
sh AS (
  SELECT doc_id, {OG.shingles_sql(OG.tokens_sql('text'), 3)} AS s
  FROM docs2
),
sig AS (
  SELECT doc_id, {OG.minhash_signature_sql('s', 12)} AS sg
  FROM sh WHERE len(s) > 0
),
banded AS (
  SELECT doc_id, band_idx,
    md5(array_to_string(sg[band_idx * 2 + 1 : band_idx * 2 + 2], '|'))
      AS band_hash
  FROM sig, (SELECT unnest(range(0, 6)) AS band_idx)
),
cands AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
  WHERE l.doc_id < r.doc_id
),
dsh AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
mh_pairs AS (
  SELECT c.a, c.b,
    round(len(list_intersect(sa.s, sb.s))
          / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
  FROM cands c
  JOIN dsh sa ON sa.doc_id = c.a
  JOIN dsh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.s, sb.s))
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
)"""

SQL_MINHASH_PAIRS = f"""WITH {_SQL_MINHASH_CTES}
SELECT a, b, jaccard FROM mh_pairs"""

def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: MinHash-LSH candidate pairs →
    connected components (min-label propagation, text_dedup.
    connected_components) → one canonical doc per transitive similarity
    group. The oracle computes the same closure with a recursive CTE."""
    docs = _docs_with_clones(spark, sf_dir)
    pairs = TD.minhash_near_duplicates(docs, n_hashes=12, bands=6,
                                       threshold=0.5)
    return TD.dedup_clusters(pairs)

SQL_DEDUP_CLUSTERS = f"""WITH RECURSIVE {_SQL_MINHASH_CTES},
cc_edges AS (
  SELECT a AS src, b AS dst FROM mh_pairs
  UNION
  SELECT b AS src, a AS dst FROM mh_pairs
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM cc_edges
  UNION
  SELECT e.src, reach.r FROM cc_edges e JOIN reach ON reach.node = e.dst
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach
         GROUP BY node)
SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  doc_id = cluster_id AS is_canonical
FROM comp"""

def q_dedup_clusters_star(spark, sf_dir):
    """Same transitive-closure contract as ``dedup_clusters`` but resolved
    with the O(log n)-round large-star/small-star contraction (Kiveris et
    al. 2014, text_dedup._cc_star) instead of min-label propagation —
    the adversarial-graph path for long-chain components. Shares
    SQL_DEDUP_CLUSTERS: both algorithms must produce identical clusters."""
    docs = _docs_with_clones(spark, sf_dir)
    pairs = TD.minhash_near_duplicates(docs, n_hashes=12, bands=6,
                                       threshold=0.5)
    return TD.dedup_clusters(pairs, algo="star")

def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware representative selection after near-dup clustering:
    per transitive similarity cluster keep the LONGEST doc (ties → lowest
    id) — the keep rule production dedup actually applies, vs
    dedup_clusters' min-id canonical. Singletons (docs in no candidate
    pair) survive as their own keeps. Subsumes the minhash_pairs +
    connected-components checks (same mh_pairs/reach CTEs in the oracle)."""
    docs = _docs_with_clones(spark, sf_dir) \
        .withColumn("quality", F.length("text"))
    pairs = TD.minhash_near_duplicates(docs, n_hashes=12, bands=6,
                                       threshold=0.5)
    return TD.dedup_keep_best(docs, pairs, quality_col="quality")

SQL_DEDUP_KEEP_BEST = f"""WITH RECURSIVE {_SQL_MINHASH_CTES},
cc_edges AS (
  SELECT a AS src, b AS dst FROM mh_pairs
  UNION
  SELECT b AS src, a AS dst FROM mh_pairs
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM cc_edges
  UNION
  SELECT e.src, reach.r FROM cc_edges e JOIN reach ON reach.node = e.dst
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach
         GROUP BY node),
q AS (
  SELECT d.doc_id, len(d.text) AS quality,
         coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM docs2 d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  row_number() OVER (PARTITION BY cluster_id
                     ORDER BY quality DESC, doc_id) = 1 AS keep
FROM q"""

_ESS_K = 8  # window length for the contract query (docs are short at sf0.01)

def q_exact_substring_spans(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022 §4.1) over the planted-clone
    corpus: every maximal duplicated token run of length ≥ k, merged from
    fixed-k rolling window hashes (text_dedup.exact_substring_spans — the
    distributed analog of their suffix-array scan; linear, no pair space).
    Value-checks span boundaries per doc via an order-stable signature.
    md5 gram hashing for cross-engine parity (xxhash64 in production)."""
    docs = _docs_with_clones(spark, sf_dir)
    out = TD.exact_substring_spans(docs, k=_ESS_K, hash_fn="md5")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.round(F.col("dup_tokens")
                / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
        .alias("dup_frac"),
        F.md5(F.concat_ws("|", F.transform(
            "spans", lambda s: F.concat_ws("-", s.s, s.e))))
        .alias("span_sig"))

_SQL_ESS_SPAN_CTES = f"""{_SQL_DOCS_CLONES},
toks AS (SELECT doc_id, {OG.tokens_sql('text')} AS tk FROM docs2),
gr AS (
  SELECT doc_id,
    [md5(array_to_string(tk[i:i+{_ESS_K - 1}], ' '))
     FOR i IN range(1, greatest(len(tk) - {_ESS_K} + 2, 1))] AS ghs
  FROM toks
),
g AS (
  SELECT doc_id, generate_subscripts(ghs, 1) AS pos, unnest(ghs) AS h
  FROM gr
),
dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
brk AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER w + {_ESS_K} THEN 1 ELSE 0 END AS b
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
),
sp AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_ESS_K} AS e
  FROM isl GROUP BY doc_id, island
)"""

SQL_EXACT_SUBSTRING_SPANS = f"""WITH {_SQL_ESS_SPAN_CTES},
agg AS (
  SELECT doc_id, count(*) AS n_spans,
    CAST(sum(e - s) AS BIGINT) AS dup_tokens,
    md5(string_agg(s || '-' || e, '|' ORDER BY s)) AS span_sig
  FROM sp GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.tk) AS BIGINT) AS n_tokens,
  coalesce(a.n_spans, 0) AS n_spans,
  coalesce(a.dup_tokens, 0) AS dup_tokens,
  round(coalesce(a.dup_tokens, 0) * 1.0
        / greatest(len(t.tk), 1), 6) AS dup_frac,
  coalesce(a.span_sig, md5('')) AS span_sig
FROM toks t LEFT JOIN agg a USING (doc_id)"""

def q_exact_substring_removal(spark, sf_dir):
    """The removal step of ExactSubstr dedup (Lee et al. 2022): every token
    covered by a duplicated span dropped, survivors rejoined
    (text_dedup.remove_duplicate_spans). Value-checked via md5 of the
    reconstructed text per doc."""
    docs = _docs_with_clones(spark, sf_dir)
    spans = TD.exact_substring_spans(docs, k=_ESS_K, hash_fn="md5")
    out = TD.remove_duplicate_spans(docs, spans)
    return out.select(
        "doc_id",
        F.length("text").cast("long").alias("kept_chars"),
        F.md5(F.col("text")).alias("kept_md5"))

SQL_EXACT_SUBSTRING_REMOVAL = f"""WITH {_SQL_ESS_SPAN_CTES},
tok_idx AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS i, unnest(tk) AS tok
  FROM toks
),
kept AS (
  SELECT ti.doc_id, ti.i, ti.tok
  FROM tok_idx ti
  LEFT JOIN sp ON sp.doc_id = ti.doc_id AND ti.i >= sp.s AND ti.i < sp.e
  WHERE sp.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(length(coalesce(r.text, '')) AS BIGINT) AS kept_chars,
  md5(coalesce(r.text, '')) AS kept_md5
FROM toks t LEFT JOIN rebuilt r USING (doc_id)"""
