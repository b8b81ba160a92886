"""E1-E4: real-library extraction cascade, pre-wired behind import gates.

The deployed reference cascades trafilatura → readability → newspaper3k →
bs4 in F1 order (robust_content_extractor.py:43-48) with the trafilatura
call configured for precision (intelligent_content_extractor.py:176-206:
EXTRACTION_TIMEOUT=0, MIN_EXTRACTED_SIZE=25, MIN_OUTPUT_SIZE=10,
include_comments=False, include_tables=True, favor_precision=True). None of
those libraries ship in this container, so the engine's contract path pins
the deterministic ``extraction.extract_one`` kernel — but the cascade below
is **config-faithful and activates itself** the moment the libraries appear
(same try-import pattern as intelligent_content_extractor.py:22-32):

* every extractor is wrapped per-row — one page's parser crash downgrades
  that row to the next strategy, never the task (the Spark analog of the
  per-strategy circuit breakers, robust_content_extractor.py:35-41; a
  breaker's job is to stop *cascading* failure, and in a deterministic
  batch engine per-row isolation is that stop);
* early-stop mirrors the reference's confidence gate: first strategy
  yielding >50 words wins (content_extraction_service.py:181-193 gate);
* the kernel signature matches ``extraction.extract_one`` exactly, so
  ``with_extraction(kernel="real")`` swaps it into the SAME dispatching
  pandas UDF — identical plan shape, batching, and Arrow path as the
  pinned kernel. Selecting it without the libraries raises at plan build
  (never silently degrades a contract run).

Determinism note: library versions pin the bytes. The round contract
(byte-identical replay) therefore stays on the pinned kernel; the real
cascade is for live deployments where fidelity to the reference's extraction
output matters more than cross-environment reproducibility.
"""

from __future__ import annotations

import html as _htmlmod
import re

try:  # intelligent_content_extractor.py:22-26
    import trafilatura
    from trafilatura.settings import use_config as _traf_use_config
    TRAFILATURA_AVAILABLE = True
except ImportError:
    TRAFILATURA_AVAILABLE = False

try:  # robust_content_extractor.py:529
    from readability import Document as _ReadabilityDoc
    READABILITY_AVAILABLE = True
except ImportError:
    READABILITY_AVAILABLE = False

try:  # intelligent_content_extractor.py:28-32
    from newspaper import Article as _NewsArticle
    NEWSPAPER_AVAILABLE = True
except ImportError:
    NEWSPAPER_AVAILABLE = False

try:
    from bs4 import BeautifulSoup as _BS
    BS4_AVAILABLE = True
except ImportError:
    BS4_AVAILABLE = False

_EARLY_STOP_WORDS = 50  # content_extraction_service.py:181-193
_RE_OG_TITLE = re.compile(
    r"<meta\s+property=[\"']og:title[\"']\s+content=[\"'](.*?)[\"']", re.S)
_RE_PUB_META = re.compile(
    r"<meta\s+property=[\"']article:published_time[\"']\s+"
    r"content=[\"'](\d{4}-\d{2}-\d{2})", re.S)
_RE_ANY_DATE = re.compile(r"\b(\d{4}-\d{2}-\d{2})\b")

_traf_config = None


def _trafilatura_cfg():
    global _traf_config
    if _traf_config is None:
        cfg = _traf_use_config()
        # intelligent_content_extractor.py:178-181
        cfg.set("DEFAULT", "EXTRACTION_TIMEOUT", "0")
        cfg.set("DEFAULT", "MIN_EXTRACTED_SIZE", "25")
        cfg.set("DEFAULT", "MIN_OUTPUT_SIZE", "10")
        _traf_config = cfg
    return _traf_config


def _extract_trafilatura(doc: str) -> tuple[str | None, str | None]:
    # intelligent_content_extractor.py:184-211
    text = trafilatura.extract(
        doc, config=_trafilatura_cfg(), include_comments=False,
        include_tables=True, favor_precision=True)
    meta = trafilatura.extract_metadata(doc)
    title = (meta.title or None) if meta else None
    if not title and text:
        first = text.split("\n")[0].strip()
        if 5 < len(first) < 100:  # :213-217 title-from-first-line heuristic
            title = first
    return text, title


def _extract_readability(doc: str) -> tuple[str | None, str | None]:
    # robust_content_extractor.py:526-539
    rdoc = _ReadabilityDoc(doc)
    soup = _BS(rdoc.summary(), "html.parser")
    return soup.get_text(strip=True, separator="\n") or None, rdoc.title()


def _extract_newspaper(doc: str) -> tuple[str | None, str | None]:
    art = _NewsArticle(url="")
    art.download(input_html=doc)
    art.parse()
    return art.text or None, art.title or None


def _extract_bs4(doc: str) -> tuple[str | None, str | None]:
    # intelligent_content_extractor.py bs4 fallback: strip noise tags,
    # then whole-document text
    soup = _BS(doc, "html.parser")
    for tag in soup(["nav", "footer", "header", "script", "style", "aside"]):
        tag.decompose()
    title = soup.title.get_text(strip=True) if soup.title else None
    return soup.get_text(separator="\n", strip=True) or None, title


def _extract_readability_lite(doc: str) -> tuple[str | None, str | None]:
    # vendored Arc90 analog (operators/readability_lite.py) — the
    # always-available stand-in for readability-lxml when it is absent
    from .readability_lite import extract_readability_lite

    m = re.search(r"<title>(.*?)</title>", doc, re.S)
    title = _htmlmod.unescape(m.group(1)).strip() if m else None
    return extract_readability_lite(doc), title


#: F1-ordered strategy chain (robust_content_extractor.py:43-48); the
#: vendored readability analog slots into readability-lxml's position
#: when the real library is unavailable, ahead of the whole-document
#: fallback — so the cascade keeps a main-content finder in any container
def _strategies():
    if TRAFILATURA_AVAILABLE:
        yield "trafilatura", _extract_trafilatura
    if READABILITY_AVAILABLE and BS4_AVAILABLE:
        yield "readability", _extract_readability
    else:
        yield "readability_lite", _extract_readability_lite
    if NEWSPAPER_AVAILABLE:
        yield "newspaper3k", _extract_newspaper
    if BS4_AVAILABLE:
        yield "beautifulsoup", _extract_bs4


def _page_meta(doc: str) -> tuple[str | None, str | None]:
    m_og = _RE_OG_TITLE.search(doc)
    og_title = _htmlmod.unescape(m_og.group(1)).strip() if m_og else None
    m_pub = _RE_PUB_META.search(doc)
    if m_pub:
        return og_title, m_pub.group(1)
    m_any = _RE_ANY_DATE.search(doc)
    return og_title, (m_any.group(1) if m_any else None)


def extract_real_one(
    html_bytes: bytes,
) -> tuple[str | None, str | None, str, int, str | None, str | None,
           str | None]:
    """Same signature/contract as ``extraction.extract_one`` — the real
    cascade with per-row failure isolation and the >50-word early stop.
    Falls through to the next strategy on failure or thin output; if every
    strategy fails, returns the last non-empty result (or the failed row)."""
    if html_bytes is None:
        return None, None, "none", 0, None, None, None
    try:
        doc = html_bytes.decode("utf-8", errors="replace")
    except Exception:
        return None, None, "none", 0, None, None, None
    og_title, pub_date = _page_meta(doc)

    best: tuple[str, str | None, str | None, int] | None = None
    for name, fn in _strategies():
        try:
            text, title = fn(doc)
        except Exception:
            continue  # per-row breaker: this strategy failed on this page
        wc = len(text.split()) if text else 0
        if wc > _EARLY_STOP_WORDS:
            best = (name, text, title, wc)
            break
        if text and (best is None or wc > best[3]):
            best = (name, text, title, wc)
    if best is None:
        return None, None, "real_failed", 0, None, og_title, pub_date
    name, text, title, wc = best
    markdown = (f"# {title}\n\n{text}" if title else text)
    return text, title, name, wc, markdown, og_title, pub_date
