"""S7: live HTTP fetch stage — ``mapInPandas`` over the scheduled frontier.

The reference fetches each page with an httpx client inside a Celery task
(content_extraction_service.py:99-135: 60 s connect / 180 s read timeouts,
keep-alive pool, browser UA headers, wayback Referer; retry policy
shared_pages_scraping.py:45,277-284: ≤3 retries, exponential backoff). This
module re-expresses that as a Spark stage:

* **Politeness stays upstream and declarative.** ``schedule_round`` (P4/W5)
  has already capped each host's rows to its token-bucket budget before any
  request is made; this stage only enforces the *spacing* half of the
  contract (``min_interval_s`` between same-host requests).
* **Host-partitioned ⇒ local pacing is global pacing.** Callers route the
  scheduled set through ``with_salted_host_partition`` first, so all rows
  for a host land in one (or, for a mega-host, k budget-capped) partition.
  A per-partition ``last-request-at`` clock per netloc then enforces the
  per-host min interval without any cross-executor coordination — the same
  reasoning that makes the reference's per-domain limiter work inside one
  asyncio loop (archive_org_client.py:23-28).
* **One connection pool per partition.** ``http.client`` connections are
  keyed by (scheme, netloc) and kept alive across the partition's rows —
  the Celery analog of ``httpx.Limits(max_keepalive_connections=5)``.
* **Failures terminalize, never raise.** A non-2xx / timed-out / refused
  row comes back with ``html = NULL`` plus (``http_status``, ``fetch_err``)
  so the downstream extractor dead-letters it (E12) exactly like a
  missing-payload row in replay mode (plans/crawl.py missing-payload union).
  A task never fails because a server did.

Scale note: at 10^10 URLs/round the stage is bounded by the politeness
budget, not by Spark — each (host, salt) partition performs
``budget // salt_k`` sequential requests, and partitions run wide. The
``url_template`` hook builds archive-replay URLs
(``https://web.archive.org/web/{ts14}id_/{url}`` — wayback_machine.py
content-URL shape) without a per-row UDF on the driver side.

No network exists in the build sandbox, so tests drive this against a
loopback ``http.server`` (tests/test_httpfetch.py) — the stage itself is
production-shaped.
"""

from __future__ import annotations

import http.client
import time
from typing import Iterator
from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_UA = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
              "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36")
#: content_extraction_service.py:110 — connect=60, read=180 (we use one knob)
DEFAULT_TIMEOUT_S = 30.0
#: shared_pages_scraping.py:45 — max 3 retries
DEFAULT_MAX_RETRIES = 3
_MAX_BODY_BYTES = 64 * 1024 * 1024  # refuse to buffer >64 MB of one page


def _parse_retry_after(value: str | None) -> float | None:
    """RFC 9110 §10.2.3 Retry-After: delta-seconds or an HTTP-date.
    Returns non-negative seconds, or None when absent/unparseable."""
    if not value:
        return None
    v = value.strip()
    # isdecimal, not isdigit: http headers decode as latin-1, and e.g.
    # '²'.isdigit() is True while float('²') raises — a hostile header
    # must never turn a good response into a transport failure
    if v.isdecimal():
        try:
            return float(v)
        except ValueError:
            return None
    try:
        from email.utils import parsedate_to_datetime
        dt = parsedate_to_datetime(v)
        import datetime as _dt
        now = _dt.datetime.now(_dt.timezone.utc)
        return max(0.0, (dt - now).total_seconds())
    except Exception:
        return None


def _retry_delay(attempt: int, backoff_base_s: float,
                 retry_after_s: float | None,
                 max_retry_after_s: float = 30.0) -> float:
    """Delay before retry ``attempt`` (1-based): exponential backoff,
    raised to the server's Retry-After when one was sent — capped at
    ``max_retry_after_s`` so a hostile header cannot park the worker."""
    d = (backoff_base_s * (2 ** (attempt - 1))
         if attempt and backoff_base_s > 0 else 0.0)
    if retry_after_s is not None:
        d = max(d, min(retry_after_s, max_retry_after_s))
    return d


def _fetch_one(pools: dict, target_url: str, *, timeout_s: float,
               user_agent: str, max_redirects: int = 3,
               range_hdr: str | None = None,
               if_none_match: str | None = None,
               if_modified_since: str | None = None) -> tuple:
    """One GET through the partition's keep-alive pool.
    Returns (body: bytes|None, status: int|None, err: str|None,
    retry_after_s: float|None — parsed whenever the server sent the
    header, honored by the caller's retry pacing, content_type:
    str|None — the media type token of the response Content-Type,
    lowercased, parameters stripped, resp_etag: str|None,
    resp_last_modified: str|None — the response's validators, captured
    so the caller can store them for the NEXT conditional request).
    ``range_hdr`` ("bytes=a-b") requests a byte slice — the S6 WARC
    (offset, length) member read; 206 Partial Content is a success.
    ``if_none_match`` / ``if_modified_since`` send RFC 9110 conditional
    headers; a 304 Not Modified comes back as a SUCCESS with no body
    (err is None) — the revalidation fast path, not a failure."""
    seen = 0
    while True:
        parts = urlsplit(target_url)
        if parts.scheme not in ("http", "https"):
            return (None, None, f"unsupported scheme: {parts.scheme}",
                    None, None, None, None)
        key = (parts.scheme, parts.netloc)
        conn = pools.get(key)
        if conn is None:
            cls = (http.client.HTTPSConnection if parts.scheme == "https"
                   else http.client.HTTPConnection)
            conn = cls(parts.netloc, timeout=timeout_s)
            pools[key] = conn
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        try:
            headers = {
                "User-Agent": user_agent,
                "Accept": "text/html,application/xhtml+xml,"
                          "application/pdf;q=0.9,*/*;q=0.8",
                "Connection": "keep-alive",
            }
            if range_hdr:
                headers["Range"] = range_hdr
            else:
                # transfer compression for full-page fetches; NOT for
                # range reads — a Range applies to the (encoded)
                # representation, and WARC member slices are themselves
                # gzip members the WARC layer decodes
                headers["Accept-Encoding"] = "gzip"
            if if_none_match:
                headers["If-None-Match"] = if_none_match
            if if_modified_since:
                headers["If-Modified-Since"] = if_modified_since
            conn.request("GET", path, headers=headers)
            resp = conn.getresponse()
            status = resp.status
            ra = _parse_retry_after(resp.getheader("Retry-After"))
            ctype = ((resp.getheader("Content-Type") or "")
                     .split(";")[0].strip().lower() or None)
            etag = resp.getheader("ETag")
            lastmod = resp.getheader("Last-Modified")
            # follow redirects like httpx follow_redirects=True (:112)
            if status in (301, 302, 303, 307, 308) and seen < max_redirects:
                loc = resp.getheader("Location")
                resp.read()  # drain so the connection stays reusable
                if loc:
                    seen += 1
                    # RFC 3986 resolution: absolute, scheme-relative
                    # (//host/x), and relative (page2.html) forms all work
                    target_url = urljoin(target_url, loc)
                    continue
            body = resp.read(_MAX_BODY_BYTES + 1)
            if len(body) > _MAX_BODY_BYTES:
                # unread bytes remain on the socket — the keep-alive
                # connection is poisoned for the next same-host request,
                # so evict it from the pool like the exception path does
                try:
                    conn.close()
                finally:
                    pools.pop(key, None)
                return (None, status, "body exceeds max size", ra,
                        ctype, etag, lastmod)
            enc = (resp.getheader("Content-Encoding") or "").lower()
            if body and enc in ("gzip", "x-gzip") and range_hdr is None:
                import zlib
                # bounded streaming decompress across ALL gzip members
                # (multi-member streams are valid gzip — some CDNs emit
                # them): a bomb stops at the same cap the wire body
                # honors instead of materializing first, and a stream
                # that ends mid-member is an error, not a silently
                # truncated "success"
                out, total, data = [], 0, body
                try:
                    while data:
                        z = zlib.decompressobj(16 + zlib.MAX_WBITS)
                        d = z.decompress(data,
                                         _MAX_BODY_BYTES + 1 - total)
                        out.append(d)
                        total += len(d)
                        if total > _MAX_BODY_BYTES:
                            return (None, status, "body exceeds max size",
                                    ra, ctype, etag, lastmod)
                        if not z.eof:
                            return (None, status,
                                    "gzip decode failed: truncated stream",
                                    ra, ctype, etag, lastmod)
                        data = z.unused_data
                        # trailing non-gzip bytes after a COMPLETE member
                        # (zero padding, CRLF from buggy middleware) are
                        # tolerated like browsers/curl do — only another
                        # gzip member continues the loop
                        if data and not data.startswith(b"\x1f\x8b"):
                            break
                except Exception as exc:
                    return (None, status, f"gzip decode failed: {exc}",
                            ra, ctype, etag, lastmod)
                body = b"".join(out)
            if 200 <= status < 300:
                return body, status, None, ra, ctype, etag, lastmod
            if status == 304:
                # Not Modified: the revalidation fast path — a success
                # with no body (RFC 9110 §15.4.5); 304 responses may omit
                # validators, the caller keeps its stored ones
                return None, status, None, ra, ctype, etag, lastmod
            return None, status, f"HTTP {status}", ra, ctype, etag, lastmod
        except Exception as exc:  # socket errors, timeouts, bad responses
            # a broken connection is not reusable — drop it from the pool
            try:
                conn.close()
            finally:
                pools.pop(key, None)
            return (None, None, f"{type(exc).__name__}: {exc}",
                    None, None, None, None)


def fetch_http(
    scheduled: DataFrame,
    *,
    url_template: str | None = None,
    timeout_s: float = DEFAULT_TIMEOUT_S,
    max_retries: int = DEFAULT_MAX_RETRIES,
    backoff_base_s: float = 0.0,
    min_interval_s: float = 0.0,
    user_agent: str = DEFAULT_UA,
    url_col: str = "url",
    ts_col: str = "ts14",
    html_col: str = "html",
    range_cols: tuple[str, str] | None = None,
    validator_cols: tuple[str, str] | None = None,
    capture_validators: bool = False,
) -> DataFrame:
    """Append ``html`` (binary) + ``http_status`` (int) + ``fetch_err``
    (string) by fetching each row's URL over live HTTP.

    ``url_template`` rewrites the request target with ``{url}`` / ``{ts14}``
    placeholders (archive-replay URL shape, or a loopback server in tests);
    ``None`` fetches ``url`` directly. Retries transient failures
    (connection errors + 5xx/429) up to ``max_retries`` with
    ``backoff_base_s · 2^attempt`` sleeps (shared_pages_scraping.py:277-284);
    definitive statuses (404 etc.) do not retry. ``min_interval_s`` spaces
    same-host requests within the partition (callers host-partition first —
    see module docstring).

    ``range_cols=(offset_col, length_col)`` sends a per-row
    ``Range: bytes=offset-(offset+length-1)`` header — the Common Crawl
    CDX-pointer read (one WARC gzip member per request, S6) that
    ``sources.warc.decode_warc_member`` decodes.

    ``validator_cols=(etag_col, last_modified_col)`` sends per-row
    ``If-None-Match`` / ``If-Modified-Since`` conditional headers (NULL
    cells send nothing) — the RFC 9110 revalidation fast path: a 304 Not
    Modified row comes back with ``html`` NULL, ``http_status`` 304 and
    ``fetch_err`` NULL (a SUCCESS: the caller reuses the stored capture).
    ``capture_validators=True`` (implied by ``validator_cols``) appends
    ``resp_etag`` / ``resp_last_modified`` response columns so the
    catalog can store validators for the next round's conditionals. At
    archive scale the 304 path is the crawl's single biggest bandwidth
    lever: unchanged pages cost a header exchange instead of a body.
    """
    capture_validators = capture_validators or validator_cols is not None
    out_schema = T.StructType(
        list(scheduled.schema.fields)
        + [T.StructField(html_col, T.BinaryType()),
           T.StructField("http_status", T.IntegerType()),
           T.StructField("fetch_err", T.StringType()),
           T.StructField("content_type", T.StringType())]
        + ([T.StructField("resp_etag", T.StringType()),
            T.StructField("resp_last_modified", T.StringType())]
           if capture_validators else []))
    in_cols = [f.name for f in scheduled.schema.fields]
    retry_statuses = {429, 500, 502, 503, 504}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pools: dict = {}
        last_at: dict[str, float] = {}   # netloc -> monotonic seconds
        try:
            for pdf in batches:
                bodies, statuses, errs, ctypes = [], [], [], []
                retags, rlastmods = [], []
                if validator_cols:
                    conds = [
                        (None if e is None or (isinstance(e, float)
                                               and pd.isna(e)) else str(e),
                         None if m is None or (isinstance(m, float)
                                               and pd.isna(m)) else str(m))
                        for e, m in zip(pdf[validator_cols[0]],
                                        pdf[validator_cols[1]])]
                else:
                    conds = [(None, None)] * len(pdf)
                if range_cols:
                    ranges = [
                        f"bytes={int(o)}-{int(o) + int(ln) - 1}"
                        for o, ln in zip(pdf[range_cols[0]],
                                         pdf[range_cols[1]])]
                else:
                    ranges = [None] * len(pdf)
                for url, ts, rng, (inm, ims) in zip(
                        pdf[url_col], pdf[ts_col], ranges, conds):
                    target = (url_template.format(url=url, ts14=ts)
                              if url_template else url)
                    netloc = urlsplit(target).netloc
                    if min_interval_s > 0:
                        prev = last_at.get(netloc)
                        now = time.monotonic()
                        if prev is not None and now - prev < min_interval_s:
                            time.sleep(min_interval_s - (now - prev))
                    body = status = err = ctype = None
                    retag = rlastmod = None
                    retry_after = None
                    for attempt in range(max_retries + 1):
                        if attempt:
                            d = _retry_delay(attempt, backoff_base_s,
                                             retry_after)
                            if d > 0:
                                time.sleep(d)
                        (body, status, err, retry_after, ctype,
                         retag, rlastmod) = _fetch_one(
                            pools, target, timeout_s=timeout_s,
                            user_agent=user_agent, range_hdr=rng,
                            if_none_match=inm, if_modified_since=ims)
                        if body is not None or (
                                status is not None
                                and status not in retry_statuses):
                            break
                    if min_interval_s > 0:
                        last_at[netloc] = time.monotonic()
                    bodies.append(body)
                    statuses.append(status)
                    errs.append(err)
                    ctypes.append(ctype)
                    retags.append(retag)
                    rlastmods.append(rlastmod)
                res = pdf[in_cols].copy()
                res[html_col] = pd.Series(bodies, dtype=object)
                res["http_status"] = pd.array(statuses, dtype="Int32")
                res["fetch_err"] = pd.Series(errs, dtype=object)
                res["content_type"] = pd.Series(ctypes, dtype=object)
                if capture_validators:
                    res["resp_etag"] = pd.Series(retags, dtype=object)
                    res["resp_last_modified"] = pd.Series(
                        rlastmods, dtype=object)
                yield res
        finally:
            for conn in pools.values():
                try:
                    conn.close()
                except Exception:
                    pass

    return scheduled.mapInPandas(run, schema=out_schema)


def fetch_robots(frontier: DataFrame, *, scheme: str = "https",
                 ts14_value: str = "robots", keep_missing: bool = False,
                 **fetch_kw) -> DataFrame:
    """P10 live composition: ONE robots.txt GET per DISTINCT host in
    ``frontier`` → ``(host, body string)`` rows for
    ``politeness.parse_robots`` (reference: RobotFileParser fetched per
    project host before scheduling).

    Cardinality is hosts, not URLs, so the fetch is tiny next to the page
    fetch stage; rows ride the same keep-alive pools / retry / pacing as
    ``fetch_http`` (kwargs forwarded, e.g. ``url_template`` for loopback
    tests — robots requests present ``ts14={ts14_value}``).

    Failure semantics follow RFC 9309 §2.3.1 like the reference's
    allow-on-error parser wrapper: 2xx → parse the body; unreachable /
    4xx → ALLOW-all (body NULL → parse_robots emits no rules for the
    host); 5xx after retries → DISALLOW-all (a synthetic
    ``User-agent: *`` / ``Disallow: /`` body).

    ``keep_missing=True`` keeps allow-all hosts as ``body NULL`` rows —
    a robots CACHE needs the negative result recorded, or 404 hosts
    refetch every round (parse_robots yields no rules for a NULL body, so
    downstream semantics are identical)."""
    reqs = (frontier.select("host").distinct()
            .withColumn("url", F.concat(F.lit(scheme + "://"), F.col("host"),
                                        F.lit("/robots.txt")))
            .withColumn("ts14", F.lit(ts14_value)))
    fetched = fetch_http(reqs, **fetch_kw)
    disallow_all = "User-agent: *\nDisallow: /"
    out = fetched.select(
        "host",
        F.when(F.col("html").isNotNull(),
               F.col("html").cast("string"))
         .when((F.col("http_status") >= 500) | (F.col("http_status") == 429),
               F.lit(disallow_all))
         .otherwise(F.lit(None).cast("string")).alias("body"),
    )
    return out if keep_missing else out.filter(F.col("body").isNotNull())
