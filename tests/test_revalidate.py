"""Conditional revalidation (If-None-Match / If-Modified-Since / 304):
``fetch_http(validator_cols=…)``.

A threaded loopback ``http.server`` plays an origin with per-path
validators; URLs are fetched directly (no wayback template) — the live
steady-state-recrawl deployment shape.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from chrono_scraper_spark.sources.httpfetch import fetch_http


class _Store:
    def __init__(self):
        # path -> (body, etag, last_modified)
        self.pages: dict[str, tuple[bytes, str | None, str | None]] = {}
        self.omit_validators_on_304: set[str] = set()
        self.hits: list[tuple[str, str | None, str | None]] = []
        self.lock = threading.Lock()


def _make_handler(store: _Store):
    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def do_GET(self):
            inm = self.headers.get("If-None-Match")
            ims = self.headers.get("If-Modified-Since")
            with store.lock:
                store.hits.append((self.path, inm, ims))
            page = store.pages.get(self.path)
            if page is None:
                self._send(404, b"no", None, None)
                return
            body, etag, lastmod = page
            not_modified = ((inm is not None and inm == etag)
                            or (inm is None and ims is not None
                                and ims == lastmod))
            if not_modified:
                if self.path in store.omit_validators_on_304:
                    self._send(304, b"", None, None)
                else:
                    self._send(304, b"", etag, lastmod)
                return
            self._send(200, body, etag, lastmod)

        def _send(self, status, body, etag, lastmod):
            self.send_response(status)
            self.send_header("Content-Type", "text/html")
            if etag:
                self.send_header("ETag", etag)
            if lastmod:
                self.send_header("Last-Modified", lastmod)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

    return H


@pytest.fixture()
def server():
    store = _Store()
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(store))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    yield store, base
    httpd.shutdown()


_LM = "Tue, 10 Jun 2003 04:00:00 GMT"


def _frontier(spark, base, rows):
    return spark.createDataFrame(
        [(f"{base}{path}", "na", etag, lm) for path, etag, lm in rows],
        "url string, ts14 string, etag string, last_modified string")


def test_first_fetch_captures_validators(spark, server):
    store, base = server
    store.pages["/a"] = (b"<html>A</html>", '"v1"', _LM)
    out = fetch_http(_frontier(spark, base, [("/a", None, None)]),
                     capture_validators=True).collect()[0]
    assert out["http_status"] == 200 and out["html"] == b"<html>A</html>"
    assert out["resp_etag"] == '"v1"'
    assert out["resp_last_modified"] == _LM
    # no conditional headers were sent
    assert store.hits == [("/a", None, None)]


def test_304_success_no_retry(spark, server):
    store, base = server
    store.pages["/a"] = (b"<html>A</html>", '"v1"', _LM)
    out = fetch_http(_frontier(spark, base, [("/a", '"v1"', _LM)]),
                     validator_cols=("etag", "last_modified"),
                     max_retries=3).collect()[0]
    assert out["http_status"] == 304
    assert out["html"] is None
    assert out["fetch_err"] is None          # a success, not a failure
    assert out["resp_etag"] == '"v1"'
    assert len(store.hits) == 1              # 304 never retried
    assert store.hits[0][1] == '"v1"' and store.hits[0][2] == _LM


def test_changed_page_refetches_with_new_validators(spark, server):
    store, base = server
    store.pages["/a"] = (b"<html>A2</html>", '"v2"', _LM)
    out = fetch_http(_frontier(spark, base, [("/a", '"v1"', None)]),
                     validator_cols=("etag", "last_modified")).collect()[0]
    assert out["http_status"] == 200 and out["html"] == b"<html>A2</html>"
    assert out["resp_etag"] == '"v2"'


def test_if_modified_since_alone(spark, server):
    store, base = server
    store.pages["/a"] = (b"<html>A</html>", None, _LM)
    out = fetch_http(_frontier(spark, base, [("/a", None, _LM)]),
                     validator_cols=("etag", "last_modified")).collect()[0]
    assert out["http_status"] == 304 and out["fetch_err"] is None
    # only If-Modified-Since went out
    assert store.hits[0][1] is None and store.hits[0][2] == _LM
