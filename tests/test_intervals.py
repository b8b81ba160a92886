"""Interval merge / gap detection (W1/W2)."""

from __future__ import annotations

from chrono_scraper_spark.operators import intervals as IV


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, start long, end long")


def test_merge_overlapping_and_touching(spark):
    df = _df(spark, [
        ("a", 1, 5), ("a", 4, 8), ("a", 8, 9),    # chain → [1,9]
        ("a", 20, 25),
        ("b", 1, 2), ("b", 10, 11),
    ])
    got = {(r["k"], r["start"], r["end"])
           for r in IV.merge_intervals(df, "k").collect()}
    assert got == {("a", 1, 9), ("a", 20, 25), ("b", 1, 2), ("b", 10, 11)}


def test_nested_intervals(spark):
    df = _df(spark, [("a", 1, 100), ("a", 10, 20), ("a", 30, 40)])
    got = [(r["start"], r["end"]) for r in IV.merge_intervals(df, "k").collect()]
    assert got == [(1, 100)]


def test_detect_gaps(spark):
    df = _df(spark, [("a", 1, 5), ("a", 8, 10), ("a", 30, 31), ("b", 1, 2)])
    gaps = {(r["k"], r["gap_start"], r["gap_end"], r["gap_size"])
            for r in IV.detect_gaps(df, "k", min_gap=4).collect()}
    assert gaps == {("a", 10, 30, 20.0)}
    all_gaps = {(r["gap_start"], r["gap_end"])
                for r in IV.detect_gaps(df, "k", min_gap=0).collect()}
    assert all_gaps == {(5, 8), (10, 30)}
