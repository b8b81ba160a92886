"""URL/timestamp scalar functions vs hand-computed expectations."""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.functions import urls as U

CASES = [
    # url, host, path, depth, ext, canon
    ("https://www.Example.com/a/b/c.html?q=1#frag",
     "www.example.com", "/a/b/c.html", 3, ".html",
     "https://www.Example.com/a/b/c.html?q=1"),
    ("http://site.org", "site.org", "/", 0, "", "http://site.org"),
    ("https://x.edu/papers/", "x.edu", "/papers/", 1, "", "https://x.edu/papers/"),
    ("https://a.com/f.PDF?x=2", "a.com", "/f.PDF", 1, ".pdf",
     "https://a.com/f.PDF?x=2"),
]


def test_url_parts(spark):
    df = spark.createDataFrame([(c[0],) for c in CASES], "url string")
    out = U.with_url_parts(df).orderBy("url")
    got = {r["url"]: r for r in out.collect()}
    for url, host, path, depth, ext, canon in CASES:
        r = got[url]
        assert r["host"] == host, url
        assert r["path"] == path, url
        assert r["url_depth"] == depth, url
        assert r["file_extension"] == ext, url
        assert r["url_canon"] == canon, url


def test_ts14_roundtrip(spark):
    df = spark.sql("SELECT timestamp'2021-03-05 07:09:11' AS ts")
    out = df.select(
        U.ts14(F.col("ts")).alias("t14"),
        F.to_timestamp(U.ts14(F.col("ts")), "yyyyMMddHHmmss").alias("back"),
    ).first()
    assert out["t14"] == "20210305070911"
    assert out["back"] == df.first()["ts"]
