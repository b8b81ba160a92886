"""html→text extraction (SURVEY §2.5 E1-E10) as Arrow-batched pandas UDFs.

The reference runs a cascade of extractors (trafilatura → newspaper3k → bs4
heuristics, intelligent_content_extractor.py:116-172) with an early stop when
the first extractor yields >50 words and a title. Those libraries are not in
this container, and the round contract requires *byte-identical* extracted
text per url, so the engine pins ONE deterministic, dependency-free extractor
(`PINNED_EXTRACTOR_VERSION`) and the corpus generator co-generates html such
that `extract(html) == text` byte-for-byte (SURVEY §7 step 6 — same strategy
the reference uses for its golden e2e assertions). The cascade *shape*
(primary → fallback, early-stop, confidence) is preserved:

- primary  ("article"):  semantic-tag main-content extraction — the
  trafilatura-analog (intelligent_content_extractor.py:174-231);
- middle   ("readability_lite"): vendored Arc90 main-content scorer — the
  readability/bs4-finder analog (robust_content_extractor.py:526-539,
  intelligent_content_extractor.py:368-399; operators/readability_lite.py)
  for pages with no semantic tags (corpus/contract pages always carry
  ``<article>``, so the pinned round contract never reaches this branch);
- fallback ("strip"):    noise-tag removal + full-text strip — the
  whole-document BeautifulSoup-analog
  (intelligent_content_extractor.py:263-449).

All work happens inside pandas UDFs over Arrow batches (bounded to 256
rows/batch for MB-scale html — session.py); no per-row Python UDFs.
"""

from __future__ import annotations

import html as _htmlmod
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import config as C

PINNED_EXTRACTOR_VERSION = "css-extractor-2"  # v2: charset prescan

#: HTML5 §13.2.3.2 encoding prescan pieces: meta tags inside the first
#: 1024 bytes, comments skipped; a charset ATTRIBUTE is honored on any
#: meta tag (content="..." values are blanked first so 'charset=' inside
#: a description can never match), and a charset inside a content value
#: only on http-equiv="content-type" tags
_RE_HTML_COMMENT = re.compile(rb"<!--.*?-->", re.S)
_RE_META_TAG = re.compile(rb"<meta\s[^>]*>", re.I | re.S)
_RE_ATTR_CONTENT = re.compile(
    rb"content\s*=\s*(\"[^\"]*\"|'[^']*')", re.I | re.S)
_RE_CHARSET_VAL = re.compile(
    rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-:.]+)", re.I)
_RE_HTTP_EQUIV_CT = re.compile(
    rb"http-equiv\s*=\s*[\"']?content-type[\"']?", re.I)


def _prescan_charset(head: bytes) -> str | None:
    """The declared encoding label from the first 1024 bytes, or None."""
    head = _RE_HTML_COMMENT.sub(b"", head)
    for m in _RE_META_TAG.finditer(head):
        tag = m.group(0)
        # charset attribute form — search with content values blanked
        attr_only = _RE_ATTR_CONTENT.sub(b"", tag)
        am = _RE_CHARSET_VAL.search(attr_only)
        if am:
            return am.group(1).decode("ascii", errors="ignore").lower()
        # http-equiv content-type form — charset lives IN the content value
        if _RE_HTTP_EQUIV_CT.search(tag):
            cm = _RE_CHARSET_VAL.search(tag)
            if cm:
                return cm.group(1).decode("ascii", errors="ignore").lower()
    return None

# E8 metadata: OpenGraph title + published date (extruct/htmldate analog,
# intelligent_content_extractor.py:499-588)
_RE_OG_TITLE = re.compile(
    r"<meta\s+property=[\"']og:title[\"']\s+content=[\"'](.*?)[\"']", re.S)
_RE_PUB_META = re.compile(
    r"<meta\s+property=[\"']article:published_time[\"']\s+"
    r"content=[\"'](\d{4}-\d{2}-\d{2})", re.S)
_RE_ANY_DATE = re.compile(r"\b(\d{4}-\d{2}-\d{2})\b")
# noise removal for the fallback path (reference strips nav/footer/script/...)
_RE_NOISE = re.compile(
    r"<(nav|footer|header|script|style|aside)\b[^>]*>.*?</\1>", re.S | re.I
)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"[ \t]+")


def _markdown(title: str | None, text: str | None) -> str | None:
    """Markdown rendering of the extracted structure (the PageV2 markdown
    content output, intelligent_content_extractor.py:263-449): title as an
    H1, paragraphs preserved."""
    if text is None:
        return None
    return f"# {title}\n\n{text}" if title else text


def _page_meta(doc: str) -> tuple[str | None, str | None]:
    """(og_title, pub_date): OpenGraph title + publication date — meta tag
    first, else first ISO date anywhere in the document (htmldate analog).

    The substring guards are pure speedups: each regex REQUIRES its
    literal attribute name, so a doc without the substring can never
    match — and the guard is a memchr scan vs a 20 µs regex pass."""
    og_title = None
    if "og:title" in doc:
        m_og = _RE_OG_TITLE.search(doc)
        if m_og:
            og_title = _htmlmod.unescape(m_og.group(1)).strip()
    if "article:published_time" in doc:
        m_pub = _RE_PUB_META.search(doc)
        if m_pub:
            return og_title, m_pub.group(1)
    m_any = _RE_ANY_DATE.search(doc)
    return og_title, (m_any.group(1) if m_any else None)


def _find_between(doc: str, open_tag: str, close_tag: str,
                  start: int = 0) -> tuple[str | None, int]:
    """First ``open_tag…close_tag`` span after ``start`` — EXACTLY the
    lazy-dot-all regex ``open(.*?)close`` match (first open tag, nearest
    close after it), via two memchr-speed ``str.find`` calls instead of a
    ~20 µs regex scan. Returns (inner text | None, index after close)."""
    i = doc.find(open_tag, start)
    if i < 0:
        return None, -1
    j = doc.find(close_tag, i + len(open_tag))
    if j < 0:
        return None, -1
    return doc[i + len(open_tag):j], j + len(close_tag)


def _paras_between(body: str) -> list[str]:
    """All ``<p…>…</p>`` inner texts — the exact non-overlapping lazy
    ``findall`` sequence (each match starts at the next ``<p>`` or
    ``<p attr…>`` open tag and ends at the nearest ``</p>``), as a find
    loop. Attributed paragraphs (``<p class="author">``) count: the
    reference's clean-text walk keeps every paragraph inside the selected
    container regardless of attributes
    (intelligent_content_extractor.py:402-414). Contract corpora emit only
    bare ``<p>``, so the pinned byte-identity is unchanged."""
    out = []
    pos = 0
    n = len(body)
    while True:
        i = body.find("<p", pos)
        if i < 0:
            return out
        k = i + 2
        if k < n and body[k] == ">":          # bare <p>
            k += 1
        elif k < n and body[k] in " \t\r\n":  # <p attr…>
            k = body.find(">", k)
            if k < 0:
                return out
            k += 1
        else:                                  # <pre>, <param>, …
            pos = i + 2
            continue
        j = body.find("</p>", k)
        if j < 0:
            return out
        out.append(body[k:j])
        pos = j + 4


def _decode_html(b: bytes) -> str:
    """bytes → str with real-web charset handling, deterministically:
    BOM first (UTF-8/UTF-16 LE/BE), then the HTML5 1024-byte prescan for
    a meta charset declaration, else UTF-8 with replacement — the archive
    corpus (ASCII/UTF-8, no meta charset) decodes byte-identically to the
    old utf-8-only path, while latin-1 / windows-125x / shift_jis pages
    stop producing mojibake."""
    if b.startswith(b"\xef\xbb\xbf"):
        return b[3:].decode("utf-8", errors="replace")
    if b.startswith(b"\xff\xfe"):
        return b[2:].decode("utf-16-le", errors="replace")
    if b.startswith(b"\xfe\xff"):
        return b[2:].decode("utf-16-be", errors="replace")
    enc = _prescan_charset(b[:1024])
    # HTML5 prescan rule: a declared utf-16 is treated as utf-8 (the
    # bytes were readable as ASCII-compatible to reach this point)
    if enc and enc not in ("utf-8", "utf8", "utf-16", "utf-16le",
                           "utf-16be", "utf16"):
        try:
            return b.decode(enc, errors="replace")
        except LookupError:   # unknown label → HTML5 fallback
            pass
    return b.decode("utf-8", errors="replace")


def extract_one(
    html_bytes: bytes,
) -> tuple[str | None, str | None, str, int, str | None, str | None,
           str | None]:
    """(text, title, method, word_count, markdown, og_title, pub_date) for
    one page — the pinned cascade plus E8 metadata enrichment.

    Deterministic pure function of the bytes; used both by the Spark UDF and
    by the corpus generator (ground-truth co-generation) and unit tests.
    """
    if html_bytes is None:
        return None, None, "none", 0, None, None, None
    try:
        doc = _decode_html(html_bytes)
    except Exception:
        return None, None, "none", 0, None, None, None

    raw_title, _ = _find_between(doc, "<title>", "</title>")
    title = _htmlmod.unescape(raw_title).strip() \
        if raw_title is not None else None
    og_title, pub_date = _page_meta(doc)

    # primary: semantic main-content extraction
    body, _ = _find_between(doc, "<article>", "</article>")
    if body is not None:
        paras = [_htmlmod.unescape(p).strip() for p in _paras_between(body)]
        paras = [p for p in paras if p]
        text = "\n\n".join(paras)
        wc = len(text.split())
        # early-stop condition mirrors the reference's confidence gate
        # (>50 words + title ⇒ short-circuit, :150-160)
        if wc > 0:
            return (text, title, "article", wc, _markdown(title, text),
                    og_title, pub_date)

    # middle: vendored readability main-content finder (E3 analog) — only
    # reached when the page has no <article> (never on contract corpora)
    from .readability_lite import extract_readability_lite

    rl_text = extract_readability_lite(doc)
    if rl_text:
        wc = len(rl_text.split())
        return (rl_text, title, "readability_lite", wc,
                _markdown(title, rl_text), og_title, pub_date)

    # fallback: strip noise tags then all markup
    stripped = _RE_NOISE.sub(" ", doc)
    stripped = _RE_TAG.sub(" ", stripped)
    stripped = _htmlmod.unescape(stripped)
    stripped = _RE_WS.sub(" ", stripped)
    lines = [ln.strip() for ln in stripped.split("\n")]
    text = "\n".join([ln for ln in lines if ln])
    wc = len(text.split())
    return ((text if wc else None), title, "strip", wc,
            _markdown(title, text if wc else None), og_title, pub_date)


# The UDF ships only the fields that REQUIRE Python: markdown is a pure
# concat of title+text (it would double the Arrow return payload — ~5 KB/row
# of duplicate bytes — so it is reassembled JVM-side in with_extraction,
# byte-identical to _markdown()).
_EXTRACT_CORE_COLS = ["text", "title", "method", "word_count",
                      "og_title", "pub_date"]
_EXTRACT_CORE_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("og_title", T.StringType()),
        T.StructField("pub_date", T.StringType()),
    ]
)


def _batched_extract(kernel):
    def run(html: pd.Series) -> pd.DataFrame:
        # column-wise assembly: pd.DataFrame(list-of-tuples) transposes in
        # Python — building the six columns directly is measurably cheaper
        cols: tuple[list, ...] = ([], [], [], [], [], [])
        for h in html:
            r = kernel(h)
            cols[0].append(r[0])
            cols[1].append(r[1])
            cols[2].append(r[2])
            cols[3].append(r[3])
            cols[4].append(r[5])
            cols[5].append(r[6])
        return pd.DataFrame(dict(zip(_EXTRACT_CORE_COLS, cols)))
    return run


@pandas_udf(_EXTRACT_CORE_SCHEMA)
def extract_text_udf(html: pd.Series) -> pd.DataFrame:  # pragma: no cover
    return _batched_extract(extract_one)(html)


_UNSUPPORTED_MIME = "unsupported_mime"
_UNSUPPORTED_ROW = (None, None, _UNSUPPORTED_MIME, 0, None, None, None)


def extract_any_one(
    payload: bytes, mime: str | None,
) -> tuple[str | None, str | None, str, int, str | None, str | None,
           str | None]:
    """Mime-dispatched extraction kernel: text/html → the html cascade,
    application/pdf → the PDF parser, anything else → a distinct terminal
    ``unsupported_mime`` row (never garbage-stripped through the wrong
    parser). Pure function shared by the Spark UDF and unit tests."""
    if mime == "text/html":
        return extract_one(payload)
    if mime == "application/pdf":
        return extract_pdf_one(payload)
    return _UNSUPPORTED_ROW


@pandas_udf(_EXTRACT_CORE_SCHEMA)
def extract_dispatch_udf(
    html: pd.Series, mime: pd.Series,
) -> pd.DataFrame:  # pragma: no cover
    # Single Arrow crossing per row with per-row kernel dispatch. A
    # F.when(...).when(...) over two pandas UDFs is NOT equivalent: Spark
    # extracts Python UDFs out of CASE expressions and evaluates BOTH
    # unconditionally (one ArrowEvalPython [udf1, udf2] node), doubling
    # Arrow transfer and running the html regex cascade over PDF bytes.
    cols: tuple[list, ...] = ([], [], [], [], [], [])
    for h, m in zip(html, mime):
        r = extract_any_one(h, m)
        cols[0].append(r[0])
        cols[1].append(r[1])
        cols[2].append(r[2])
        cols[3].append(r[3])
        cols[4].append(r[5])
        cols[5].append(r[6])
    return pd.DataFrame(dict(zip(_EXTRACT_CORE_COLS, cols)))

# ---------------------------------------------------------------------------
# PDF text extraction (E-family; the reference admits application/pdf through
# the CDX filter and extracts PDF text, wayback_machine.py:741-907). No PDF
# libs in this container, so this is a REAL dependency-free parser for
# uncompressed text-object PDFs (the co-generated corpus shape), not a stub:
# writer + parser round-trip text byte-identically.
# ---------------------------------------------------------------------------

_PDF_ESC = {ord("\\"): "\\\\", ord("("): "\\(", ord(")"): "\\)",
            ord("\n"): "\\n", ord("\r"): "\\r", ord("\t"): "\\t"}
_RE_PDF_STREAM = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_RE_PDF_TJ = re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*Tj")
_RE_PDF_TITLE = re.compile(rb"/Title\s*\(((?:[^()\\]|\\.)*)\)")
_RE_PDF_DATE = re.compile(rb"/CreationDate\s*\(D:(\d{4})(\d{2})(\d{2})")
_RE_PDF_UNESC = re.compile(rb"\\([nrtbf()\\]|[0-7]{1,3})")


def _pdf_escape(s: str) -> str:
    return s.translate(_PDF_ESC)


def _pdf_unescape(b: bytes) -> str:
    def sub(m: re.Match) -> bytes:
        c = m.group(1)
        mapping = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
                   b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}
        if c in mapping:
            return mapping[c]
        return bytes([int(c, 8)])
    return _RE_PDF_UNESC.sub(sub, b).decode("utf-8", errors="replace")


def encode_pdf(title: str | None, text: str | None,
               date_iso: str | None = None) -> bytes:
    """Minimal single-page uncompressed PDF: one text object per source
    line (``(line) Tj T*``), /Info Title + CreationDate. The xref table is
    byte-offset-correct (a standards-level reader can open it); the corpus
    uses it to co-generate PDF payloads whose extracted text round-trips
    byte-identically."""
    lines = (text or "").split("\n")
    content = "BT /F1 12 Tf 72 720 Td 14 TL\n" + "".join(
        f"({_pdf_escape(ln)}) Tj T*\n" for ln in lines) + "ET"
    cb = content.encode("utf-8")
    info = "<<"
    if title is not None:
        info += f" /Title ({_pdf_escape(title)})"
    if date_iso:
        info += f" /CreationDate (D:{date_iso.replace('-', '')}120000Z)"
    info += " >>"
    objs = [
        "<< /Type /Catalog /Pages 2 0 R >>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        f"<< /Length {len(cb)} >>\nstream\n{content}\nendstream",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        info,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n{body}\nendobj\n".encode("utf-8")
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R /Info 6 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def extract_pdf_one(
    payload: bytes,
) -> tuple[str | None, str | None, str, int, str | None, str | None,
           str | None]:
    """(text, title, method, word_count, markdown, og_title, pub_date) for
    one PDF — the mime-routed sibling of ``extract_one``. Parses
    uncompressed content streams' ``(…) Tj`` show-text operators in order
    (one per source line) and the /Info Title/CreationDate. Filtered
    (compressed) streams yield no text → the row terminalizes as failed
    rather than passing garbage (same contract as the html strip path)."""
    if payload is None or not payload.startswith(b"%PDF"):
        return None, None, "none", 0, None, None, None
    m_t = _RE_PDF_TITLE.search(payload)
    title = _pdf_unescape(m_t.group(1)) if m_t else None
    m_d = _RE_PDF_DATE.search(payload)
    pub_date = "-".join(m_d.groups()[i].decode() for i in range(3)) \
        if m_d else None
    parts: list[str] = []
    for stream in _RE_PDF_STREAM.findall(payload):
        parts.extend(_pdf_unescape(t) for t in _RE_PDF_TJ.findall(stream))
    text = "\n".join(parts) if parts else None
    wc = len(text.split()) if text else 0
    return ((text if wc else None), title, "pdf", wc,
            _markdown(title, text if wc else None), None, pub_date)


def _real_dispatch_udf():
    """Dispatch UDF with the REAL library cascade (E1-E4,
    real_extractors.py) on the html branch — built lazily so importing this
    module never requires the libraries. Without any real library the
    cascade still contains the vendored readability analog
    (readability_lite.py), so selecting ``kernel='real'`` runs a genuine
    main-content finder rather than raising; the ``*_AVAILABLE`` flags in
    ``real_extractors`` say which library strategies are active."""
    from . import real_extractors as R  # noqa: F401 (strategy registry)

    def kernel(payload, mime):
        if mime == "text/html":
            return R.extract_real_one(payload)
        if mime == "application/pdf":
            return extract_pdf_one(payload)
        return _UNSUPPORTED_ROW

    @pandas_udf(_EXTRACT_CORE_SCHEMA)
    def real_dispatch(html: pd.Series, mime: pd.Series) -> pd.DataFrame:
        cols: tuple[list, ...] = ([], [], [], [], [], [])
        for h, m in zip(html, mime):
            r = kernel(h, m)
            for i, j in enumerate((0, 1, 2, 3, 5, 6)):
                cols[i].append(r[j])
        return pd.DataFrame(dict(zip(_EXTRACT_CORE_COLS, cols)))

    return real_dispatch


def with_extraction(pages: DataFrame, html_col: str = "html",
                    mime_col: str = "mime", kernel: str = "pinned"
                    ) -> DataFrame:
    """Run the extraction cascade; adds ``extracted`` struct + the
    completed/failed split column per the reference's word_count>50 gate
    (E9, content_extraction_service.py:181-193).

    Mime routing (the CDX filter admits application/pdf,
    wayback_machine.py:741-907): text/html → the html cascade;
    application/pdf → the real PDF text parser (``extract_pdf_one``);
    anything else → a DISTINCT terminal ``unsupported_mime`` method instead
    of garbage-stripping binary through the HTML path — rows terminalize
    as failed, never silently corrupt. Routing happens INSIDE one
    dispatching pandas UDF (``extract_dispatch_udf``) so each payload
    crosses the Arrow boundary exactly once; see the UDF docstring for why
    a CASE over two UDFs evaluates both on every row.

    ``kernel``: "pinned" (default — the deterministic contract kernel) or
    "real" (the library cascade, real_extractors.py; raises if no library
    is importable). Same UDF shape/batching either way."""
    if kernel == "real":
        core = _real_dispatch_udf()(
            F.col(html_col),
            F.col(mime_col) if mime_col in pages.columns
            else F.lit("text/html"))
    elif mime_col in pages.columns:
        core = extract_dispatch_udf(F.col(html_col), F.col(mime_col))
    else:
        core = extract_text_udf(F.col(html_col))
    # materialize the UDF result once, then derive markdown JVM-side
    # (byte-identical to _markdown(): "# {title}\n\n{text}" when title is
    # non-empty, else text; null text propagates through concat to null)
    out = pages.withColumn("_xcore", core)
    extracted = _extracted_struct(lambda c: F.col("_xcore")[c])
    out = out.withColumn("extracted", extracted).drop("_xcore")
    return out.withColumn(
        "fetch_status",
        F.when(F.col("extracted.word_count") > C.MIN_WORD_COUNT,
               F.lit(C.STATUS_COMPLETED)).otherwise(F.lit(C.STATUS_FAILED)),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """E7: deterministic 0-1 quality score from text shape — column
    expressions only (length, paragraph structure, alpha ratio), modeled on
    robust_content_extractor.py:113-159 / shared_pages_scraping.py:446-490."""
    text = F.col(text_col)
    length = F.length(text)
    words = F.size(F.split(text, r"\s+"))
    paras = F.size(F.split(text, r"\n\n"))
    alpha = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    len_score = F.least(length / F.lit(2000.0), F.lit(1.0))
    para_score = F.least(paras / F.lit(5.0), F.lit(1.0))
    alpha_ratio = F.when(length > 0, alpha / length).otherwise(F.lit(0.0))
    wordlen_score = F.when(
        words > 0,
        F.least((length / words) / F.lit(8.0), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    score = (
        len_score * 0.4 + para_score * 0.2 + alpha_ratio * 0.2 + wordlen_score * 0.2
    )
    return df.withColumn("quality_score", F.round(score, 4))


# ---------------------------------------------------------------------------
# E11: extraction cache
# ---------------------------------------------------------------------------

_CACHE_CORE = ("text", "title", "method", "word_count", "og_title",
               "pub_date")
EXTRACT_CACHE_SCHEMA = (
    "digest string, mime string, text string, title string, method string, "
    "word_count int, og_title string, pub_date string, cached_at double"
)


def _extracted_struct(col) -> F.Column:
    """Reassemble the ``extracted`` struct (incl. JVM-side markdown) from a
    function mapping core-column name → Column — shared by the UDF path
    (with_extraction) and the cache-hit path (byte-identical output)."""
    markdown = F.when(
        col("title").isNotNull() & (col("title") != ""),
        F.concat(F.lit("# "), col("title"), F.lit("\n\n"), col("text")),
    ).otherwise(col("text"))
    return F.struct(
        col("text").alias("text"),
        col("title").alias("title"),
        col("method").alias("method"),
        col("word_count").alias("word_count"),
        markdown.alias("markdown"),
        col("og_title").alias("og_title"),
        col("pub_date").alias("pub_date"),
    )


def with_extraction_cached(
    pages: DataFrame,
    catalog,
    *,
    table: str = "extract_cache",
    html_col: str = "html",
    mime_col: str = "mime",
    kernel: str = "pinned",
    ttl_seconds: float | None = None,
    now: float | None = None,
    update_cache: bool = True,
) -> DataFrame:
    """E11 extraction cache: ``with_extraction`` semantics, but payloads whose
    ``(md5(payload), mime)`` key is already in the catalog's cache table skip
    the Arrow/Python kernel entirely.

    The reference caches extraction results in Redis keyed by MD5 with a 1 h
    TTL (robust_content_extractor.py:197-241). The engine analog is a
    catalog-native cache table — ``(digest, mime) → core extraction columns``
    — maintained with insert-only MERGE (one O(delta) fragment per round,
    same merge-on-read shape as every other engine table). The key is
    ``md5(version|kernel|md5(html))`` — the hash of the EXACT kernel input
    (the payload bytes, not the CDX *content* digest: two captures can
    share extracted-text digests while their raw payloads and hence
    metadata differ) FOLDED WITH the kernel identity, so a hit is provably
    equivalent to recomputation and a kernel upgrade or switch misses
    stale entries instead of serving them.

    1. distinct un-cached ``(md5(payload), mime)`` keys are extracted ONCE —
       the in-batch distinct means duplicate payloads cross the Arrow
       boundary at most once even on a cold cache (the reference's Redis
       round-trip cannot pool within a batch);
    2. the fresh rows are MERGE-inserted, then EVERY input row resolves by
       a plain equi-join on the cache — one shuffle on the payload hash,
       the same shape as the D1 digest-collapse stage;
    3. rows with a NULL payload (or any key unresolved when
       ``update_cache=False``) fall back to the inline UDF path.

    ``ttl_seconds`` gates *use* at read time (reference-parity knob). The
    kernel is deterministic, so stale entries are never *wrong* — entries
    are immutable once written and an expired key is simply re-extracted
    inline each round (insert-only MERGE does not refresh it); the TTL's
    real purpose at scale is bounding the cache join's build side.

    At 100 TB the win is the steady-state recrawl: the per-page Python
    kernel runs only for the changed-content fraction; unchanged pages cost
    one hash-join probe. MEASURED caveat (cache join vs inline recompute,
    BENCH.md): the pinned contract kernel is so cheap (~13 us/page) that
    recompute beats the cache join (~41 us/page fixed) — hence
    ``CrawlJob(extract_cache=False)`` by default. The cache is for the
    real library cascade (``kernel="real"``): at trafilatura-class cost
    (10-100 ms/page) a hit is worth ~its full kernel cost.
    """
    import time as _time

    now = _time.time() if now is None else now
    mime_expr = (F.col(mime_col) if mime_col in pages.columns
                 else F.lit("text/html"))
    # the kernel identity is part of the key: a hit must be provably
    # equivalent to recomputation, so a kernel upgrade (version bump) or a
    # kernel switch (pinned vs real) must miss old entries rather than
    # serve results the current kernel would not produce
    keyed = pages.withColumn("__mime", mime_expr) \
        .withColumn("__pk", F.md5(F.concat(
            F.lit(f"{PINNED_EXTRACTOR_VERSION}|{kernel}|"),
            F.md5(F.col(html_col)))))

    def _live(df: DataFrame) -> DataFrame:
        if ttl_seconds is None:
            return df
        return df.filter(F.col("cached_at") >= F.lit(float(now) - ttl_seconds))

    cache = _live(catalog.read_or_empty(table, EXTRACT_CACHE_SCHEMA))

    if update_cache:
        todo = (
            keyed.filter(F.col("__pk").isNotNull())
            .select(F.col("__pk").alias("digest"),
                    F.col("__mime").alias("mime"), F.col(html_col))
            .dropDuplicates(["digest", "mime"])
            .join(cache.select("digest", "mime"), ["digest", "mime"],
                  "left_anti")
        )
        ext = with_extraction(todo, html_col=html_col, mime_col="mime",
                              kernel=kernel)
        fresh = ext.select(
            "digest", "mime",
            *[F.col(f"extracted.{c}").alias(c) for c in _CACHE_CORE],
            F.lit(float(now)).alias("cached_at"),
        )
        catalog.merge_not_matched(table, fresh, keys=["digest", "mime"],
                                  assume_unique=True)
        cache = _live(catalog.read(table))

    aux = ["__mime", "__pk", "__cd", "__cm"] + \
        [f"__c_{c}" for c in _CACHE_CORE]
    cren = cache.select(
        F.col("digest").alias("__cd"), F.col("mime").alias("__cm"),
        *[F.col(c).alias(f"__c_{c}") for c in _CACHE_CORE])
    joined = keyed.join(
        cren,
        (F.col("__pk") == F.col("__cd")) & (F.col("__mime") == F.col("__cm")),
        "left",
    )

    hits = (
        joined.filter(F.col("__cm").isNotNull())
        .withColumn("extracted",
                    _extracted_struct(lambda c: F.col(f"__c_{c}")))
        .withColumn(
            "fetch_status",
            F.when(F.col("extracted.word_count") > C.MIN_WORD_COUNT,
                   F.lit(C.STATUS_COMPLETED)).otherwise(F.lit(C.STATUS_FAILED)),
        )
        .drop(*aux)
    )
    miss_rows = joined.filter(F.col("__cm").isNull()).drop(*aux)
    misses = with_extraction(miss_rows, html_col=html_col,
                             mime_col=mime_col, kernel=kernel)
    return hits.unionByName(misses)
