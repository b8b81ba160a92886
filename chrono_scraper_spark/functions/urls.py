"""URL / timestamp scalar functions — all JVM-side column expressions.

Reference semantics: urlparse-based derivation in data_transformers.py:161-208
(host, path, depth, extension) and the 14-char capture timestamp handling in
wayback_machine.py:238-255. Everything here stays inside whole-stage codegen;
no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_host(url: Column) -> Column:
    """Lower-cased host ('netloc' sans port), e.g. 'www.example.com'."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def url_path(url: Column) -> Column:
    """Path component ('' → '/'), query/fragment stripped."""
    p = F.parse_url(url, F.lit("PATH"))
    return F.when(p.isNull() | (p == ""), F.lit("/")).otherwise(p)


def url_query(url: Column) -> Column:
    """Query string without the leading '?' (null when absent)."""
    return F.parse_url(url, F.lit("QUERY"))


def url_path_noquery(url: Column) -> Column:
    """URL with query+fragment stripped, lower-cased — the reference's
    `url.lower().split('?')[0].split('#')[0]` used by every extension check
    (enhanced_intelligent_filter.py:231-242)."""
    return F.element_at(F.split(F.element_at(F.split(F.lower(url), r"\?"), 1), "#"), 1)


def url_depth(url: Column) -> Column:
    """Number of non-empty path segments (data_transformers.py:200)."""
    segs = F.split(url_path(url), "/")
    return F.size(F.filter(segs, lambda s: s != F.lit("")))


def url_extension(url: Column) -> Column:
    """Trailing '.ext' of the path's last segment (lower-cased), '' when none.
    Derived from the PATH component so dotted hostnames never leak in
    (reference: wayback_machine.py:463-470 splits the parsed path)."""
    p = F.lower(url_path(url))
    last = F.element_at(F.split(p, "/"), -1)
    return F.when(
        last.contains("."), F.concat(F.lit("."), F.element_at(F.split(last, r"\."), -1))
    ).otherwise(F.lit(""))


def url_canon(url: Column) -> Column:
    """Canonical URL key. The reference keys the seen-set on the *raw* CDX
    URL (cdx_deduplication_service.py:138-170), so canonicalization must be
    identity-preserving: strip only the fragment."""
    return F.element_at(F.split(url, "#"), 1)


def sorted_query(url: Column) -> Column:
    """Query string with '&'-separated params sorted bytewise (the
    canonicalization step that makes '?b=2&a=1' and '?a=1&b=2' the same
    key), lower-cased; null when the URL has no query."""
    q = F.lower(url_query(url))
    return F.when(
        q.isNull() | (q == ""), F.lit(None).cast("string")
    ).otherwise(F.array_join(F.array_sort(F.split(q, "&")), "&"))


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) canonical key, the
    form Wayback / pywb / OpenWayback CDX indexes sort on:
    ``com,example)/path?a=1&b=2``.

    Canonicalization applied (the pywb default subset, documented):
    lower-case everything; strip the scheme, fragment, and a leading
    ``www`` / ``www2``-style label; reverse the host labels joined by
    commas; sort query params bytewise. Pure column expressions — stays
    in whole-stage codegen, usable as a partition/sort key so one host's
    captures cluster in CDX-index file order."""
    host = F.regexp_replace(url_host(url), r"^www\d*\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(url_path(url))
    q = sorted_query(url)
    return F.concat(
        rev, F.lit(")"), path,
        F.when(q.isNull(), F.lit("")).otherwise(F.concat(F.lit("?"), q)))


def pct_normalize(url: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization — the
    canonicalization step that makes ``%2f`` and ``%2F`` (and ``%61`` vs
    ``a``) the same seen-set key:

    * hex digits of every percent-escape are UPPERCASED;
    * escapes that decode to an UNRESERVED character
      (``A-Z a-z 0-9 - . _ ~``) are decoded — they never needed
      encoding, and RFC 3986 says the forms are equivalent;
    * escapes of reserved characters stay encoded (``%2F`` is NOT a
      path slash), a stray ``%`` not followed by two hex digits passes
      through verbatim.

    Pure column expressions (split on '%', one TRANSFORM over the
    escape-leading fragments, rejoin) — whole-stage codegen, no UDF,
    byte-replayable in the DuckDB oracle. Compose ahead of ``url_canon``
    / ``surt_key`` when the frontier mixes encoders (the defaults stay
    identity-preserving: the reference keys on raw CDX URLs)."""
    parts = F.split(url, "%")

    def fix(p, i):
        h = F.upper(F.substring(p, 1, 2))
        rest = F.substring(p, 3, 2147483647)
        valid = p.rlike("^[0-9A-Fa-f]{2}")
        decoded = F.char(F.conv(h, 16, 10).cast("int"))
        unres = (h < "80") & decoded.rlike("^[A-Za-z0-9._~-]$")
        fixed = F.when(~valid, F.concat(F.lit("%"), p)).otherwise(
            F.concat(F.when(unres, decoded)
                     .otherwise(F.concat(F.lit("%"), h)), rest))
        return F.when(i == 0, p).otherwise(fixed)

    return F.array_join(F.transform(parts, fix), "")


def ts14(ts: Column) -> Column:
    """14-char capture timestamp 'yyyyMMddHHmmss' (scraping.py:69)."""
    return F.date_format(ts, "yyyyMMddHHmmss")


def with_url_parts(df, url_col: str = "url"):
    """Annotate a frontier/pages DataFrame with derived URL columns used by
    filters, politeness and analytics. One projection, no shuffle."""
    u = F.col(url_col)
    return df.withColumns(
        {
            "host": url_host(u),
            "path": url_path(u),
            "path_noquery": url_path_noquery(u),
            "url_depth": url_depth(u),
            "file_extension": url_extension(u),
            "url_canon": url_canon(u),
        }
    )
