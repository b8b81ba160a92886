"""WARC (ISO 28500) source: dependency-free writer + parser.

Common Crawl — the corpus the reference's CC route reads
(common_crawl_service / wayback_machine.py WARC filename+offset+length
fields, content_extraction_service.py:80-95 `_WarcRecord`) — stores pages as
WARC files: concatenated per-record gzip members, each holding one
``WARC/1.0`` response record whose block is a raw HTTP response. Like the
PDF kernel (operators/extraction.py), this module implements the REAL format
dependency-free rather than stubbing it: the writer emits spec-shaped
records (deterministically — gzip mtime pinned to 0, record IDs derived
from md5(url, date) instead of random UUIDs) and the parser inverts them
byte-for-byte, so round-trip identity is oracle-checkable.

Per-record gzip members are the parallelism contract: CC's layout exists
so a reader can start at any (offset, length) from the CDX index and
decompress one member — S6's range fetch. ``decode_warc_member`` is that
(offset,length)-sliced kernel. gzip/http parsing is stdlib-only.
"""

from __future__ import annotations

import gzip
import hashlib
import io

WARC_VERSION = b"WARC/1.0"
_CRLF = b"\r\n"


def _record_id(url: str, date_iso: str) -> str:
    """Deterministic record id (spec wants a urn:uuid; the reference's
    golden-replay determinism forbids random UUIDs, so derive from content
    key — documented deviation)."""
    h = hashlib.md5(f"{url}\x00{date_iso}".encode()).hexdigest()
    return (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>")


def encode_warc_record(url: str, date_iso: str, mime: str, status: int,
                       payload: bytes, *, compress: bool = True) -> bytes:
    """One WARC response record (optionally as its own gzip member — the
    Common Crawl layout). The block is a raw HTTP/1.1 response."""
    reason = {200: "OK", 301: "Moved Permanently", 302: "Found",
              404: "Not Found", 500: "Internal Server Error"}.get(status, "")
    http_head = (f"HTTP/1.1 {status} {reason}".rstrip().encode() + _CRLF
                 + f"Content-Type: {mime}".encode() + _CRLF
                 + f"Content-Length: {len(payload)}".encode() + _CRLF
                 + _CRLF)
    block = http_head + payload
    head = (WARC_VERSION + _CRLF
            + b"WARC-Type: response" + _CRLF
            + b"WARC-Record-ID: " + _record_id(url, date_iso).encode() + _CRLF
            + b"WARC-Date: " + date_iso.encode() + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"Content-Type: application/http; msgtype=response" + _CRLF
            + b"Content-Length: " + str(len(block)).encode() + _CRLF
            + _CRLF)
    record = head + block + _CRLF + _CRLF
    if not compress:
        return record
    buf = io.BytesIO()
    # mtime=0: byte-deterministic members (gzip stamps wall-clock otherwise)
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def encode_wet_record(url: str, date_iso: str, text: str, *,
                      compress: bool = True) -> bytes:
    """One WET record — Common Crawl's extracted-text sibling of the WARC
    response file (``*.warc.wet.gz``): a ``WARC-Type: conversion`` record
    whose block is the UTF-8 plain text, with ``WARC-Refers-To`` pointing
    at the response record it was converted from. Because this module's
    record IDs are content-derived (md5(url, date), not random UUIDs), the
    Refers-To id MATCHES the id ``encode_warc_record`` gives the same
    (url, date) response without needing that record in hand — the
    deterministic-replay property, documented deviation as for
    ``_record_id``. ``parse_warc`` reads WET streams unchanged
    (conversion records carry no HTTP envelope, so the block IS the
    payload)."""
    payload = (text or "").encode("utf-8")
    head = (WARC_VERSION + _CRLF
            + b"WARC-Type: conversion" + _CRLF
            + b"WARC-Record-ID: "
            + _record_id(url + "\x00wet", date_iso).encode() + _CRLF
            + b"WARC-Refers-To: " + _record_id(url, date_iso).encode()
            + _CRLF
            + b"WARC-Date: " + date_iso.encode() + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"Content-Type: text/plain" + _CRLF
            + b"Content-Length: " + str(len(payload)).encode() + _CRLF
            + _CRLF)
    record = head + payload + _CRLF + _CRLF
    if not compress:
        return record
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def encode_wat_record(url: str, date_iso: str, *,
                      title: str | None = None,
                      http_status: int | None = None,
                      links: list | tuple = (),
                      compress: bool = True) -> bytes:
    """One WAT record — Common Crawl's per-page metadata sibling
    (``*.warc.wat.gz``): a ``WARC-Type: metadata`` record whose block is
    a JSON envelope describing the response record it refers to. The
    JSON follows the CC WAT envelope's load-bearing subset
    (Envelope → WARC-Header-Metadata + Payload-Metadata →
    HTTP-Response-Metadata → Response-Message / HTML-Metadata with Head
    title and outgoing Links) — the full CC schema carries dozens of
    optional branches this corpus never populates; documented subset.

    Deterministic by construction: sorted keys, compact separators, and
    the content-derived ``WARC-Refers-To`` id (same deterministic-replay
    convention as ``encode_wet_record``) — byte-identical re-encodes for
    the same inputs, so WAT files are replayable artifacts like
    everything else the engine writes."""
    import json as _json

    env = {"Envelope": {
        "WARC-Header-Metadata": {
            "WARC-Target-URI": url,
            "WARC-Date": date_iso,
        },
        "Payload-Metadata": {
            "HTTP-Response-Metadata": {
                "Response-Message": {"Status": http_status},
                "HTML-Metadata": {
                    "Head": {"Title": title},
                    "Links": [{"url": u} for u in links],
                },
            },
        },
    }}
    payload = _json.dumps(env, sort_keys=True,
                          separators=(",", ":")).encode("utf-8")
    head = (WARC_VERSION + _CRLF
            + b"WARC-Type: metadata" + _CRLF
            + b"WARC-Record-ID: "
            + _record_id(url + "\x00wat", date_iso).encode() + _CRLF
            + b"WARC-Refers-To: " + _record_id(url, date_iso).encode()
            + _CRLF
            + b"WARC-Date: " + date_iso.encode() + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"Content-Type: application/json" + _CRLF
            + b"Content-Length: " + str(len(payload)).encode() + _CRLF
            + _CRLF)
    record = head + payload + _CRLF + _CRLF
    if not compress:
        return record
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def _parse_headers(raw: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in raw.split(_CRLF):
        k, sep, v = line.partition(b":")
        if sep:
            out[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1"))
    return out


def parse_warc(stream: bytes) -> list[dict]:
    """All records in a WARC byte stream (multi-member gzip, single member,
    or uncompressed). Returns dicts with url, date, mime, status, payload,
    record_id, warc_type. Malformed trailing bytes stop the scan rather
    than raise — a truncated tail file yields its complete records."""
    if stream[:2] == b"\x1f\x8b":
        stream = gzip.decompress(stream)  # handles concatenated members
    records = []
    pos = 0
    n = len(stream)
    while pos < n:
        if not stream.startswith(WARC_VERSION, pos):
            break
        head_end = stream.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            break
        headers = _parse_headers(stream[pos + len(WARC_VERSION):head_end])
        try:
            block_len = int(headers["content-length"])
        except (KeyError, ValueError):
            break
        block = stream[head_end + 4:head_end + 4 + block_len]
        if len(block) < block_len:
            break  # truncated record
        rec: dict = {
            "warc_type": headers.get("warc-type"),
            "url": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "record_id": headers.get("warc-record-id"),
            "mime": None, "status": None, "payload": block,
        }
        if (headers.get("content-type", "").startswith("application/http")
                and block[:5] == b"HTTP/"):
            http_end = block.find(_CRLF + _CRLF)
            if http_end >= 0:
                status_line, _, header_raw = block[:http_end].partition(_CRLF)
                parts = status_line.split(b" ", 2)
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["status"] = int(parts[1])
                http_headers = _parse_headers(header_raw)
                rec["mime"] = http_headers.get("content-type")
                rec["payload"] = block[http_end + 4:]
        records.append(rec)
        pos = head_end + 4 + block_len
        while stream.startswith(_CRLF, pos):  # record separator
            pos += 2
    return records


def decode_warc_member(member: bytes) -> dict | None:
    """S6 range-read kernel: one (offset, length) slice — a single gzip
    member (or raw record) — to one parsed record."""
    recs = parse_warc(member)
    return recs[0] if recs else None
