"""Extraction cascade: byte identity, word-count gate, fallback path,
quality column."""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.operators import extraction as E


def test_byte_identity_over_corpus(spark, pages):
    out = E.with_extraction(pages)
    assert out.filter("extracted.text IS DISTINCT FROM text").count() == 0
    assert out.filter("extracted.method != 'article'").count() == 0


def test_word_count_gate(spark, pages):
    out = E.with_extraction(pages)
    bad = out.filter(
        ((F.col("extracted.word_count") > 50) & (F.col("fetch_status") != "completed"))
        | ((F.col("extracted.word_count") <= 50) & (F.col("fetch_status") != "failed"))
    ).count()
    assert bad == 0
    # corpus is built with ~20% short docs: both classes must be present
    assert out.filter("fetch_status = 'completed'").count() > 0
    assert out.filter("fetch_status = 'failed'").count() > 0


def test_extract_one_fallback_strip():
    html = b"<html><head><title>T</title></head><body><nav>x</nav>" \
           b"<div>hello world from a plain div</div></body></html>"
    text, title, method, wc, markdown, og_title, pub_date = E.extract_one(html)
    assert method == "strip"
    assert title == "T"
    assert "hello world" in text and "x" not in text.split()
    assert markdown.startswith("# T\n\n")
    assert og_title is None and pub_date is None


def test_extract_one_handles_null_and_garbage():
    assert E.extract_one(None) == (None, None, "none", 0, None, None, None)
    text, _, method, _, _, _, _ = E.extract_one(b"\xff\xfe\x00garbage")
    assert method == "strip"


def test_extract_one_metadata_enrichment():
    html = (b"<html><head><title>T</title>"
            b'<meta property="og:title" content="OG Title"/>'
            b'<meta property="article:published_time" content="2021-03-04"/>'
            b"</head><body><article><p>alpha beta</p></article></body></html>")
    text, title, method, wc, markdown, og_title, pub_date = E.extract_one(html)
    assert (og_title, pub_date) == ("OG Title", "2021-03-04")
    assert markdown == "# T\n\nalpha beta"
    # htmldate-style fallback: first ISO date in the body
    html2 = b"<html><body><article><p>posted 2020-12-25 ok</p></article></body></html>"
    assert E.extract_one(html2)[6] == "2020-12-25"


def test_mime_routing(spark):
    pdf = E.encode_pdf("Doc T", "w1 w2 w3\n\nsecond para", "2021-03-05")
    rows = [("u1", "text/html",
             b"<html><body><article><p>w1 w2</p></article></body></html>"),
            ("u2", "application/pdf", b"%PDF-1.4 garbage, no streams"),
            ("u3", "application/pdf", pdf),
            ("u4", "image/png", b"\x89PNG....")]
    df = spark.createDataFrame(rows, "url string, mime string, html binary")
    out = {r["url"]: r for r in E.with_extraction(df).collect()}
    assert out["u1"]["extracted"]["method"] == "article"
    # unparseable pdf terminalizes as failed through the pdf method
    assert out["u2"]["extracted"]["method"] == "pdf"
    assert out["u2"]["fetch_status"] == "failed"
    assert out["u2"]["extracted"]["text"] is None
    # parseable pdf round-trips text + metadata
    assert out["u3"]["extracted"]["method"] == "pdf"
    assert out["u3"]["extracted"]["text"] == "w1 w2 w3\n\nsecond para"
    assert out["u3"]["extracted"]["title"] == "Doc T"
    assert out["u3"]["extracted"]["pub_date"] == "2021-03-05"
    # everything else stays a distinct terminal method
    assert out["u4"]["extracted"]["method"] == "unsupported_mime"


def test_mime_routing_single_arrow_pass(spark):
    """Regression (r2 verdict #1): the mime-routed plan must contain exactly
    ONE ArrowEvalPython node carrying exactly ONE UDF. The old
    F.when(is_html, udf_a).when(is_pdf, udf_b) shape made Spark extract both
    pandas UDFs out of the CASE and evaluate them unconditionally on every
    row (one ArrowEvalPython [udf_a, udf_b]) — double Arrow transfer, html
    regex cascade over PDF bytes."""
    df = spark.createDataFrame(
        [("u", "text/html", b"<html></html>")],
        "url string, mime string, html binary")
    plan = E.with_extraction(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("extract_dispatch_udf") == 1
    assert "extract_text_udf" not in plan


def test_extract_any_one_dispatch():
    pdf = E.encode_pdf("T", "a b c", None)
    assert E.extract_any_one(pdf, "application/pdf")[2] == "pdf"
    assert E.extract_any_one(
        b"<html><body><article><p>x</p></article></body></html>",
        "text/html")[2] == "article"
    assert E.extract_any_one(b"\x89PNG", "image/png")[2] == "unsupported_mime"
    assert E.extract_any_one(None, None)[2] == "unsupported_mime"


def test_pdf_roundtrip_byte_identity():
    cases = [
        ("plain", "alpha beta gamma"),
        ("parens (and) more", "line with (parens) and \\backslash\\"),
        ("multi", "p1 l1\np1 l2\n\np2 l1"),
        ("empty-lines", "a\n\n\nb"),
        ("tabs", "col1\tcol2"),
    ]
    for title, text in cases:
        got = E.extract_pdf_one(E.encode_pdf(title, text, "2020-01-02"))
        assert got[0] == text, (title, got[0])
        assert got[1] == title
        assert got[2] == "pdf"
        assert got[3] == len(text.split())
        assert got[6] == "2020-01-02"


def test_pdf_parser_rejects_non_pdf():
    assert E.extract_pdf_one(None)[2] == "none"
    assert E.extract_pdf_one(b"not a pdf")[2] == "none"
    t, title, method, wc, *_ = E.extract_pdf_one(b"%PDF-1.4\nno streams")
    assert method == "pdf" and t is None and wc == 0


def test_pdf_xref_offsets_are_correct():
    """The writer emits a standards-correct xref: every offset points at
    'N 0 obj'."""
    pdf = E.encode_pdf("T", "some text", None)
    import re as _re

    xref_at = int(_re.search(rb"startxref\n(\d+)", pdf).group(1))
    assert pdf[xref_at:xref_at + 4] == b"xref"
    offsets = [int(m) for m in
               _re.findall(rb"(\d{10}) 00000 n", pdf[xref_at:])]
    for i, off in enumerate(offsets, start=1):
        assert pdf[off:off + len(f"{i} 0 obj")] == f"{i} 0 obj".encode()


def test_quality_and_counts(spark):
    df = spark.createDataFrame(
        [("one two three\n\nfour five", ), (None, ), ("", )], "text string")
    out = E.with_quality_score(df).collect()
    by_text = {r["text"]: r for r in out}
    r = by_text["one two three\n\nfour five"]
    assert 0.0 < r["quality_score"] <= 1.0


def test_real_kernel_gating(spark):
    """E1-E4 pre-wire: kernel='real' activates the library cascade when
    importable; in a bare container the cascade still runs the vendored
    readability analog (readability_lite) in the readability slot, so a
    main-content finder is always active."""
    from chrono_scraper_spark.operators import real_extractors as R

    df = spark.createDataFrame(
        [(b"<html><head><title>T</title></head><body><div class='content'>"
          b"<p>hello world, this paragraph carries enough prose to score "
          b"in the readability candidate pass, with commas, clauses, and "
          b"length.</p></div></body></html>", "text/html")],
        "html binary, mime string")
    out = E.with_extraction(df, kernel="real").select(
        "extracted.*").collect()[0]
    if any((R.TRAFILATURA_AVAILABLE,
            R.READABILITY_AVAILABLE and R.BS4_AVAILABLE,
            R.NEWSPAPER_AVAILABLE, R.BS4_AVAILABLE)):
        assert out["method"] in ("trafilatura", "readability",
                                 "newspaper3k", "beautifulsoup",
                                 "readability_lite")
    else:
        assert out["method"] == "readability_lite"
    assert out["text"] and "hello world" in out["text"]


def test_real_kernel_matches_extract_one_signature():
    """The real kernel is drop-in for extract_one: same arity, same null
    handling — so the dispatch UDF shape is shared."""
    from chrono_scraper_spark.operators.real_extractors import extract_real_one

    row = extract_real_one(None)
    assert row == (None, None, "none", 0, None, None, None)
    assert len(row) == len(E.extract_one(None))


def test_readability_lite_main_content_finder():
    """Vendored Arc90 analog (readability_lite.py): on a page with NO
    semantic <article>, the scorer must pick the prose container and drop
    nav / footer / link-farm blocks."""
    html = (
        b"<html><head><title>Page</title></head><body>"
        b"<div class='nav'><p>home, about, contact, pricing, careers, and "
        b"a long navigation paragraph</p>"
        b"<a href='/a'>home, about, contact, pricing, careers, and a long "
        b"navigation paragraph</a></div>"
        b"<div class='content'>"
        b"<p>The first real paragraph of the story, with commas, enough "
        b"length to score well, and no links at all in its body.</p>"
        b"<p>A second substantial paragraph follows here, also with "
        b"commas, adding more prose mass to the same container.</p>"
        b"</div>"
        b"<div class='footer'><p>copyright, terms, privacy, cookies, and "
        b"other footer boilerplate text here</p></div>"
        b"</body></html>")
    text, title, method, wc, markdown, _, _ = E.extract_one(html)
    assert method == "readability_lite"
    assert title == "Page"
    assert "first real paragraph" in text
    assert "second substantial paragraph" in text
    assert "navigation" not in text and "copyright" not in text
    assert markdown.startswith("# Page\n\n")


def test_readability_lite_link_density_penalty():
    """Equal prose mass, but one container is all links — the scorer's
    (1 - link_density) factor must pick the prose block."""
    from chrono_scraper_spark.operators.readability_lite import (
        extract_readability_lite,
    )

    para = ("Some reasonably long paragraph text, with commas, that "
            "scores identically in both candidate containers.")
    html = (f"<div id='a'><p><a href='/x'>{para}</a></p></div>"
            f"<div id='b'><p>{para}</p></div>")
    out = extract_readability_lite(html)
    assert out is not None and para in out


def test_readability_lite_article_branch_priority():
    """Pages WITH <article> must keep the pinned primary branch — the
    round contract's byte-identity path is untouched."""
    html = (b"<html><head><title>T</title></head><body>"
            b"<article><p>alpha beta gamma, with commas and length enough "
            b"for any scorer to notice it.</p></article>"
            b"<div class='content'><p>decoy paragraph that must not win, "
            b"with commas, because article goes first.</p></div>"
            b"</body></html>")
    _, _, method, _, _, _, _ = E.extract_one(html)
    assert method == "article"


def test_readability_lite_malformed_html_safe():
    from chrono_scraper_spark.operators.readability_lite import (
        extract_readability_lite,
    )

    assert extract_readability_lite("<div><p>unclosed everywhere, with "
                                    "commas, but still parsed fine, "
                                    "because the walker unwinds") \
        is not None
    assert extract_readability_lite("<<<>>>&#x;") is None


def test_decode_html_charset_prescan():
    """Real-web charset handling: BOMs and the HTML5 1024-byte meta
    prescan route non-UTF-8 pages through the declared codec; plain
    ASCII/UTF-8 is byte-identical to the old utf-8-only path."""
    from chrono_scraper_spark.operators.extraction import (
        _decode_html,
        extract_one,
    )

    body = ("<html><head><meta charset=\"iso-8859-1\"><title>café"
            "</title></head><body><article><p>déjà vu "
            + "w " * 60 + "</p></article></body></html>")
    latin = body.encode("latin-1")
    assert "déjà vu" in _decode_html(latin)
    text, title, method, wc, *_ = extract_one(latin)
    assert title == "café" and "déjà vu" in text

    # content= form, windows-1251 cyrillic
    ru = ("<html><head><meta http-equiv=\"Content-Type\" content=\""
          "text/html; charset=windows-1251\"></head><body><article>"
          "<p>привет</p></article>"
          "</body></html>").encode("windows-1251")
    assert "привет" in _decode_html(ru)

    # BOMs win over everything
    assert _decode_html("hi".encode("utf-8-sig")) == "hi"
    assert _decode_html("hi".encode("utf-16-le",)
                        ) != ""  # no BOM -> utf-8 replace, no crash
    assert _decode_html(b"\xff\xfe" + "ab".encode("utf-16-le")) == "ab"
    assert _decode_html(b"\xfe\xff" + "ab".encode("utf-16-be")) == "ab"

    # unknown label falls back to utf-8; utf-8 page with declaration
    # unchanged; declaration OUTSIDE the 1024-byte prescan ignored
    assert _decode_html(b"<meta charset=bogus-enc>ok") == \
        "<meta charset=bogus-enc>ok"
    pad = b" " * 1100
    far = pad + b"<meta charset=\"iso-8859-1\">" + "é".encode("utf-8")
    assert _decode_html(far).endswith("é")   # decoded as utf-8, not latin-1


def test_charset_prescan_attribute_vs_content_value():
    """HTML5 prescan precision: 'charset=' inside a content VALUE of a
    non-content-type meta (or inside a comment) must NOT reroute the
    decode; the http-equiv content-type form must; a declared utf-16 is
    treated as utf-8 (HTML5 rule)."""
    from chrono_scraper_spark.operators.extraction import _decode_html

    utf8 = "résumé".encode("utf-8")
    trap = (b'<meta name="description" content="set charset=shift_jis!">'
            + utf8)
    assert "résumé" in _decode_html(trap)          # stayed utf-8
    comment = b'<!-- <meta charset="iso-8859-1"> -->' + utf8
    assert "résumé" in _decode_html(comment)       # comment skipped
    equiv = (b'<meta http-equiv="Content-Type" '
             b'content="text/html; charset=iso-8859-1">'
             + "déjà".encode("latin-1"))
    assert "déjà" in _decode_html(equiv)
    u16 = b'<meta charset="utf-16">' + utf8        # HTML5: decode as utf-8
    assert "résumé" in _decode_html(u16)


def test_extract_cache_key_is_kernel_versioned(spark, tmp_path):
    """A kernel upgrade must MISS old cache entries: the cache key folds
    in the extractor version + kernel, so no stored digest can equal the
    bare payload md5 an older scheme used."""
    import hashlib

    from chrono_scraper_spark.operators.extraction import (
        with_extraction_cached,
    )
    from chrono_scraper_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    html = (b"<html><head><title>t</title></head><body><article><p>"
            + b"word " * 60 + b"</p></article></body></html>")
    df = spark.createDataFrame([(html, "text/html")], "html binary, mime string")
    with_extraction_cached(df, cat).collect()
    cached = {r["digest"] for r in cat.read("extract_cache").collect()}
    assert cached and hashlib.md5(html).hexdigest() not in cached
