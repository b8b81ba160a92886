"""Property-based tests (hypothesis): engine operators vs pure-Python
references on randomized inputs. Each example generates a whole batch of
rows so one hypothesis example = one Spark job, keeping runtime sane."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from chrono_scraper_spark.functions.urls import url_canon
from chrono_scraper_spark.operators.intervals import merge_intervals
from chrono_scraper_spark.operators.quality import gopher_signals

SET = settings(max_examples=10, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture])

# printable ASCII + newlines/bullets/ellipses so line rules fire
_text = st.text(alphabet="abcdefghij XYZ0189#.?&-*•…\n",
                min_size=0, max_size=120)


def _py_merge(intervals):
    ivs = sorted(intervals)
    out = []
    for s, e in ivs:
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


@SET
@given(st.lists(st.tuples(st.integers(0, 1000), st.integers(0, 200)),
                min_size=1, max_size=40))
def test_merge_intervals_property(spark, raw):
    ivs = [(s, s + d) for s, d in raw]
    df = spark.createDataFrame([(1, s, e) for s, e in ivs],
                               ["key", "start", "end"])
    got = sorted((r["start"], r["end"]) for r in
                 merge_intervals(df, "key", "start", "end").collect())
    assert got == _py_merge(ivs)


@SET
@given(st.lists(_text, min_size=1, max_size=25))
def test_gopher_signals_property(spark, texts):
    from .test_quality import py_signals
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in gopher_signals(df).collect()}
    for i, t in rows:
        exp = py_signals(t)
        for k, v in exp.items():
            assert abs(got[i][k] - v) < 1e-9, (k, repr(t))


_urlish = st.text(
    alphabet=st.sampled_from(list("abcz019:/?&=#._-%")), max_size=60)


@SET
@given(st.lists(_urlish, min_size=1, max_size=40))
def test_url_canon_idempotent_and_fragment_free(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(url_canon(F.col("url")).alias("c"))
    twice = once.select(url_canon(F.col("c")).alias("c2"), F.col("c"))
    assert twice.filter(F.col("c2") != F.col("c")).count() == 0
    assert once.filter(F.col("c").contains("#")).count() == 0


@SET
@given(st.lists(st.text(alphabet=st.sampled_from(list("ab \t\n")),
                        max_size=40), min_size=1, max_size=30))
def test_fingerprint_whitespace_invariant(spark, texts):
    """fingerprint() must be invariant under whitespace normalization."""
    import hashlib

    from chrono_scraper_spark.functions.textops import fingerprint
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["fp"] for r in df.select(
        "i", fingerprint(F.col("text")).alias("fp")).collect()}
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        assert got[i] == hashlib.md5(norm.encode()).hexdigest()


@SET
@given(st.data())
def test_asof_join_matches_pandas_merge_asof(spark, data):
    import pandas as pd

    from chrono_scraper_spark.operators.asof import asof_join

    n_keys = data.draw(st.integers(1, 3))
    left_rows = data.draw(st.lists(
        st.tuples(st.integers(0, n_keys - 1), st.integers(0, 1000)),
        min_size=1, max_size=30))
    right_rows = data.draw(st.lists(
        st.tuples(st.integers(0, n_keys - 1), st.integers(0, 1000),
                  st.integers(-99, 99)),
        min_size=0, max_size=30))
    # pandas merge_asof keeps ONE row per equal right (k, ts); the engine
    # keeps the last-in-window one — dedup right keys to align semantics
    seen, rr = set(), []
    for k, ts, v in right_rows:
        if (k, ts) not in seen:
            seen.add((k, ts))
            rr.append((k, ts, v))

    left = spark.createDataFrame(
        [(i, k, pd.Timestamp(ts, unit="s").to_pydatetime())
         for i, (k, ts) in enumerate(left_rows)],
        "lid int, k int, ts timestamp")
    right = spark.createDataFrame(
        [(k, pd.Timestamp(ts, unit="s").to_pydatetime(), v)
         for k, ts, v in rr],
        "k int, ts timestamp, v int") if rr else spark.createDataFrame(
        [], "k int, ts timestamp, v int")
    got = {r["lid"]: (r["asof_v"], r["asof_ts"])
           for r in asof_join(left, right, on=["k"]).collect()}

    lpd = pd.DataFrame([(i, k, pd.Timestamp(ts, unit="s"))
                        for i, (k, ts) in enumerate(left_rows)],
                       columns=["lid", "k", "ts"]).sort_values("ts",
                                                               kind="stable")
    rpd = pd.DataFrame(rr, columns=["k", "ts", "v"])
    rpd["k"] = rpd["k"].astype("int64")
    rpd["ts"] = pd.to_datetime(rpd["ts"], unit="s")
    rpd = rpd.sort_values("ts", kind="stable")
    exp = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    assert len(got) == len(left_rows)
    for _, row in exp.iterrows():
        g_v, g_ts = got[row["lid"]]
        if pd.isna(row["v"]):
            assert g_v is None and g_ts is None
        else:
            assert g_v == row["v"]


def _hash_id(tok: str, vocab: int) -> int:
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % vocab


def _py_tokens(text: str) -> list[str]:
    # Python-re twin of textops.TOKEN_SPLIT_RE ([^\p{L}\p{N}]+, Java
    # syntax): the _text alphabet is ASCII, so letter/digit runs suffice
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


@SET
@given(st.data())
def test_pack_emit_equals_flat_stream(spark, data):
    docs = data.draw(st.lists(_text, min_size=1, max_size=25))
    L = data.draw(st.integers(2, 9))
    V = data.draw(st.integers(5, 200))
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id int, text string").repartition(5)
    from chrono_scraper_spark.operators.quality import pack_emit

    out = {r["seq_id"]: r for r in
           pack_emit(df, seq_len=L, vocab=V, pad_id=-1).collect()}
    stream = [_hash_id(t, V) for txt in docs for t in _py_tokens(txt)]
    n_seqs = -(-len(stream) // L)
    assert set(out) == set(range(n_seqs))
    for s in range(n_seqs):
        want = stream[s * L:(s + 1) * L]
        want = want + [-1] * (L - len(want))
        assert out[s]["input_ids"] == want


@SET
@given(st.data())
def test_fasttext_score_matches_python(spark, data):
    import math

    docs = data.draw(st.lists(_text, min_size=1, max_size=30))
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id int, text string")
    from chrono_scraper_spark.operators.quality import fasttext_score

    out = {r["doc_id"]: r for r in fasttext_score(df).collect()}
    for i, txt in enumerate(docs):
        toks = _py_tokens(txt)
        w = sum((_hash_id(t, 4096) * 2654435761) % 2001 - 1000
                for t in toks)
        assert out[i]["n_tokens"] == len(toks)
        assert out[i]["w_sum"] == w
        if toks:
            expect = round(1e6 / (1 + math.exp(-(w / (len(toks) * 1000.0)))))
            assert out[i]["score_micro"] == expect
        else:
            assert out[i]["score_micro"] == 500000 and not out[i]["keep"]


@SET
@given(st.data())
def test_mix_rebalance_invariants(spark, data):
    rows = data.draw(st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]),
                  st.integers(0, 12)),
        min_size=1, max_size=40))
    df = spark.createDataFrame(
        [(i, src, " ".join(["w"] * n)) for i, (src, n) in enumerate(rows)],
        "doc_id int, source string, text string")
    from chrono_scraper_spark.operators.quality import mix_rebalance

    out = mix_rebalance(df).collect()
    assert len(out) == len(rows)                     # every doc, flagged
    acc = {}
    for r in out:
        acc.setdefault(r["source"], set()).add(r["accept_ppm"])
    # one rate per stratum; rates within [0, 1e6]; if any stratum has
    # tokens, the max-rate stratum is kept whole
    rates = {}
    for src, s in acc.items():
        assert len(s) == 1
        (rates[src],) = s
        assert 0 <= rates[src] <= 1_000_000
    tok_per_src = {}
    for src, n in rows:
        tok_per_src[src] = tok_per_src.get(src, 0) + n
    if any(v > 0 for v in tok_per_src.values()):
        assert max(rates[s] for s in rates
                   if tok_per_src.get(s, 0) > 0) == 1_000_000
    # kept docs are exactly those whose md5 draw clears the stratum rate
    import hashlib
    for r in out:
        draw = int(hashlib.md5(f"mix:{r['doc_id']}".encode())
                   .hexdigest()[:8], 16) % 1_000_000
        assert r["keep"] == (draw < r["accept_ppm"])


def _py_surt(url: str) -> str:
    """Twin of functions/urls.py surt_key for well-formed http(s) URLs."""
    from urllib.parse import urlsplit

    p = urlsplit(url.strip())
    host = re.sub(r"^www\d*\.", "", (p.hostname or "").lower())
    rev = ",".join(reversed(host.split(".")))
    path = (p.path or "/").lower()
    q = p.query.lower()
    qs = "?" + "&".join(sorted(q.split("&"))) if q else ""
    return f"{rev}){path}{qs}"


@SET
@given(st.lists(st.tuples(
    st.sampled_from(["example.com", "www.example.com", "a.b.co",
                     "www3.site.org"]),
    st.lists(st.sampled_from(["p", "q", "x-1", "y.z", "UP"]),
             max_size=4),
    st.lists(st.sampled_from(["a=1", "b=2", "k=v", "z="]), max_size=3),
), min_size=1, max_size=30))
def test_surt_key_matches_python_twin(spark, parts):
    from chrono_scraper_spark.functions.urls import surt_key

    urls = []
    for host, segs, qparams in parts:
        path = "/" + "/".join(segs)
        q = ("?" + "&".join(qparams)) if qparams else ""
        urls.append(f"https://{host}{path}{q}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["k"] for r in
           df.select(surt_key(F.col("url")).alias("k")).collect()]
    assert got == [_py_surt(u) for u in urls]


def _py_robots_match(path: str, pattern: str) -> bool:
    """RFC 9309 matcher twin: '*' any-sequence, trailing '$' anchor."""
    anchored = pattern.endswith("$")
    base = pattern[:-1] if anchored else pattern
    rx = "^" + ".*".join(re.escape(seg) for seg in base.split("*"))
    if anchored:
        rx += "$"
    return re.search(rx, path) is not None


@SET
@given(st.lists(st.tuples(
    st.text(alphabet=st.sampled_from(list("ab/.*$?+()[")), min_size=1,
            max_size=12),
    st.text(alphabet=st.sampled_from(list("ab/.?+()[")), min_size=1,
            max_size=16),
), min_size=1, max_size=25))
def test_robots_wildcard_matcher_matches_python_twin(spark, cases):
    """Single-rule robots_filter decisions == the Python RFC 9309 twin,
    across patterns mixing wildcards with regex metacharacters."""
    from chrono_scraper_spark.operators.politeness import robots_filter

    rows = [(f"h{i}.com", "/" + path, f"u{i}", "t")
            for i, (_, path) in enumerate(cases)]
    rules = [(f"h{i}.com", "/" + pat, False)
             for i, (pat, _) in enumerate(cases)]
    frontier = spark.createDataFrame(
        rows, "host string, path string, url string, ts14 string")
    rdf = spark.createDataFrame(
        rules, "host string, path_prefix string, allowed boolean")
    kept = {r["url"] for r in robots_filter(frontier, rdf).collect()}
    for i, (pat, path) in enumerate(cases):
        expect_kept = not _py_robots_match("/" + path, "/" + pat)
        assert (f"u{i}" in kept) == expect_kept, (pat, path)


@SET
@given(st.lists(st.tuples(
    st.text(alphabet=st.sampled_from(list("xyz")), min_size=1,
            max_size=4),
    st.integers(min_value=1, max_value=9)),
    min_size=1, max_size=40))
def test_cms_never_underestimates_property(spark, items):
    """For ANY multiset and a deliberately tiny width (max collisions),
    every point estimate >= the true count."""
    from collections import Counter

    from chrono_scraper_spark.operators.analytics import (
        cms_build,
        cms_query,
    )

    rows = [(k,) for k, n in items for _ in range(n)]
    true = Counter(k for k, n in items for _ in range(n))
    df = spark.createDataFrame(rows, "k string")
    sk = cms_build(df, "k", d=2, w=4)
    est = {r["k"]: r["est"]
           for r in cms_query(sk, df, "k", d=2, w=4).collect()}
    assert all(est[k] >= n for k, n in true.items()), (est, dict(true))


def _py_pct_normalize(u: str) -> str:
    """RFC 3986 §6.2.2 twin of functions.urls.pct_normalize."""
    parts = u.split("%")
    out = [parts[0]]
    for p in parts[1:]:
        if re.match(r"^[0-9A-Fa-f]{2}", p):
            h = p[:2].upper()
            ch = chr(int(h, 16))
            if h < "80" and re.match(r"^[A-Za-z0-9._~-]$", ch):
                out.append(ch + p[2:])
            else:
                out.append("%" + h + p[2:])
        else:
            out.append("%" + p)
    return "".join(out)


@SET
@given(st.lists(st.text(
    alphabet=st.sampled_from(list("ab1%2Ff7EcG~._- /")),
    max_size=24), min_size=1, max_size=30))
def test_pct_normalize_matches_python_twin(spark, tails):
    from chrono_scraper_spark.functions.urls import pct_normalize

    urls = [f"https://h.example/{t}" for t in tails]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["n"] for r in
           df.select(pct_normalize(F.col("url")).alias("n")).collect()]
    assert got == [_py_pct_normalize(u) for u in urls]


@SET
@given(st.lists(st.text(
    alphabet=st.sampled_from(list("ab1%2Ff7EcG~._- /")),
    max_size=24), min_size=1, max_size=30))
def test_pct_normalize_idempotent(spark, tails):
    from chrono_scraper_spark.functions.urls import pct_normalize

    urls = [f"https://h.example/{t}" for t in tails]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(pct_normalize(F.col("url")).alias("n"))
    twice = once.select(F.col("n").alias("url")) \
        .select(pct_normalize(F.col("url")).alias("n"))
    assert [r["n"] for r in once.collect()] == \
        [r["n"] for r in twice.collect()]
