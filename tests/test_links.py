"""Link extraction / anchor-text aggregation (operators/links.py)."""

from __future__ import annotations

from chrono_scraper_spark.operators.links import (
    anchor_text_counts,
    extract_links,
)

HTML = (
    '<html><body><nav><a href="/">Home</a>'
    "<a href='/blog/'>Blog   Index</a></nav>"
    '<p><a href="https://other.example/page">see <b>the</b>\nGuide</a></p>'
    '<a href="#frag">skip</a>'
    '<a href="mailto:a@b.c">skip</a>'
    '<a href="JavaScript:void(0)">skip</a>'
    '<a href="relative.html">skip (bare relative)</a>'
    '<a name="x">no href</a>'
    '<a href="http://img.example/i"><img src="x.png"/></a>'
    "</body></html>"
)


def _pages(spark):
    return spark.createDataFrame(
        [("https://src.example/a", "src.example", HTML.encode())],
        "url string, host string, html binary")


def test_extract_links_policy_and_normalization(spark):
    rows = {(r["href"]): r for r in extract_links(_pages(spark)).collect()}
    # fragment / mailto / javascript / bare-relative / no-href all dropped
    assert set(rows) == {"/", "/blog/", "https://other.example/page",
                         "http://img.example/i"}
    assert rows["/"]["dst_url"] == "https://src.example/"
    assert rows["/blog/"]["dst_url"] == "https://src.example/blog/"
    assert rows["/blog/"]["dst_host"] == "src.example"
    abs_ = rows["https://other.example/page"]
    assert abs_["dst_url"] == "https://other.example/page"
    assert abs_["dst_host"] == "other.example"
    # anchor normalization: nested tags stripped, lowercased, whitespace
    # (incl. newline) collapsed, trimmed
    assert abs_["anchor_text"] == "see the guide"
    assert rows["/blog/"]["anchor_text"] == "blog index"
    # image-only anchor -> empty anchor text, still a link row
    assert rows["http://img.example/i"]["anchor_text"] == ""


def test_anchor_text_counts_and_host_edges(spark):
    pages = spark.createDataFrame(
        [("https://a.example/1", "a.example",
          b'<a href="https://t.example/x">Click here</a>'),
         ("https://a.example/2", "a.example",
          b'<a href="https://t.example/x">click  HERE</a>'),
         ("https://b.example/1", "b.example",
          b'<a href="https://t.example/x">the target</a>'
          b'<a href="https://img.example/i"></a>')],
        "url string, host string, html binary")
    links = extract_links(pages)
    counts = {(r["dst_url"], r["anchor_text"]): (r["n_links"], r["n_src_hosts"])
              for r in anchor_text_counts(links).collect()}
    # normalization merges 'Click here' / 'click  HERE'
    assert counts[("https://t.example/x", "click here")] == (2, 1)
    assert counts[("https://t.example/x", "the target")] == (1, 1)
    # empty-anchor image link excluded from the aggregation
    assert all(k[1] != "" for k in counts)


def test_extract_links_plan_is_map_side(spark):
    """extract_links itself shuffles nothing: one Generate (the tag
    explode) over a projection."""
    plan = extract_links(_pages(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("Generate") == 1


def test_rel_canonical_policy(spark):
    from chrono_scraper_spark.operators.links import rel_canonical

    rows = [
        ("u1", "h.example",
         b'<html><head><link rel="canonical" '
         b'href="https://other.example/real"></head></html>'),
        ("u2", "h.example",
         b"<html><head><link rel='canonical' href='/canon'></head>"),
        ("u3", "h.example",
         b'<html><head><link rel="canonical" href="page.html">'),  # bare
        ("u4", "h.example", b"<html><head></head></html>"),        # absent
        ("u5", "h.example",
         b'<html><head><LINK REL="CANONICAL" HREF="/up"></head>'),  # case
    ]
    df = spark.createDataFrame(rows, "url string, host string, html binary")
    got = {r["url"]: r["canonical_url"]
           for r in rel_canonical(df).collect()}
    assert got == {
        "u1": "https://other.example/real",
        "u2": "https://h.example/canon",
        "u3": "u3",          # bare-relative unresolvable -> identity
        "u4": "u4",
        "u5": "https://h.example/up",
    }


def test_nofollow_and_href_from_opening_tag_only(spark):
    """An anchor whose VISIBLE TEXT mentions rel=/href= must not poison
    extraction: attributes parse from the opening tag only."""
    from chrono_scraper_spark.operators.links import extract_links

    rows = [("u", "h.example",
             b'<html><body>'
             b'<a href="/guide">how to use rel="nofollow" links</a>'
             b'<a name="x">the href="/evil" syntax explained</a>'
             b'<a rel="nofollow" href="/blocked">real nofollow</a>'
             b'</body></html>')]
    df = spark.createDataFrame(rows, "url string, host string, html binary")
    got = {r["dst_url"]: r["nofollow"] for r in extract_links(df).collect()}
    assert got == {"https://h.example/guide": False,
                   "https://h.example/blocked": True}  # /evil never a link


def test_meta_robots_multi_tag_and_space_tokens(spark):
    """REP: directives union across ALL robots meta tags, and tokens may
    be space-separated."""
    from chrono_scraper_spark.operators.links import meta_robots

    rows = [
        ("u1", b'<html><head><meta name="robots" content="noindex">'
               b'<meta name="robots" content="nofollow"></head></html>'),
        ("u2", b'<html><head><meta name="robots" '
               b'content="noindex nofollow"></head></html>'),
        ("u3", b"<html><head></head></html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: (r["noindex"], r["nofollow"])
           for r in meta_robots(df).collect()}
    assert got == {"u1": (True, True), "u2": (True, True),
                   "u3": (False, False)}
