"""Project↔page linking: idempotent junction, prefix reuse, shared-doc
build (D9/J5/J6)."""

from __future__ import annotations

from chrono_scraper_spark.operators import projects as P


def _pages(spark):
    rows = [
        ("https://a.com/x/1", "a1", "t1"),
        ("https://a.com/x/2", "a2", "t2"),
        ("https://b.com/y/1", "b1", "t3"),
    ]
    return spark.createDataFrame(rows, "url string, url_canon string, ts14 string")


def _empty_junction(spark):
    return spark.createDataFrame([], "project_id int, url_canon string, ts14 string")


def test_link_idempotent(spark):
    pages = _pages(spark)
    j0 = _empty_junction(spark)
    j1 = P.link_pages_to_project(pages, j0, project_id=1)
    j2 = P.link_pages_to_project(pages, j1, project_id=1)  # replay
    assert j1.count() == 3 and j2.count() == 3
    j3 = P.link_pages_to_project(pages, j2, project_id=2)
    assert j3.count() == 6


def test_reuse_pages_for_prefix(spark):
    pages = _pages(spark)
    j = P.reuse_pages_for_prefix(pages, _empty_junction(spark),
                                 project_id=7, url_prefix="https://a.com/x")
    got = {(r["project_id"], r["url_canon"]) for r in j.collect()}
    assert got == {(7, "a1"), (7, "a2")}


def test_build_shared_docs(spark):
    pages = _pages(spark)
    j = _empty_junction(spark)
    j = P.link_pages_to_project(pages, j, 1)
    j = P.link_pages_to_project(pages.filter("url_canon = 'a1'"), j, 2)
    docs = {r["url_canon"]: r for r in P.build_shared_docs(pages, j).collect()}
    assert docs["a1"]["project_ids"] == [1, 2] and docs["a1"]["is_shared"]
    assert docs["a2"]["project_ids"] == [1] and not docs["a2"]["is_shared"]
