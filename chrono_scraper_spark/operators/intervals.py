"""Interval merge + coverage-gap detection (SURVEY §2.8 W1/W2).

Reference semantics: ``merge_date_ranges`` (incremental_scraping.py:426-455)
collapses overlapping scraped ranges; gap detection (:213-315) finds holes
≥ min_gap between merged islands and inside the domain's overall window.
Classic island detection with window functions: running max of interval end,
island starts where start > running-max-so-far. One shuffle on the partition
key; no UDFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_intervals(df: DataFrame, key: str, start: str = "start",
                    end: str = "end") -> DataFrame:
    """Union of possibly-overlapping [start, end] intervals per key →
    disjoint islands (W1). Touching intervals (start == prev end) merge."""
    w = Window.partitionBy(key).orderBy(start, end)
    run_max = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    marked = df.withColumn(
        "__new_island",
        F.when(run_max.isNull() | (F.col(start) > run_max), 1).otherwise(0))
    islands = marked.withColumn(
        "island",
        F.sum("__new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy(key, "island")
            .agg(F.min(start).alias(start), F.max(end).alias(end))
            .drop("island"))


def detect_gaps(df: DataFrame, key: str, start: str = "start",
                end: str = "end", min_gap: int | float = 0) -> DataFrame:
    """Gaps between merged islands per key (W2): rows (key, gap_start,
    gap_end, gap_size) where gap_size = next.start - this.end ≥ min_gap.
    Works on numeric or timestamp columns (gap_size in the column's unit —
    seconds for timestamps)."""
    merged = merge_intervals(df, key, start, end)
    w = Window.partitionBy(key).orderBy(start)
    nxt = F.lead(start).over(w)
    gap_size = F.when(
        nxt.isNotNull(),
        nxt.cast("double") - F.col(end).cast("double"))
    return (merged
            .withColumn("gap_start", F.col(end))
            .withColumn("gap_end", nxt)
            .withColumn("gap_size", gap_size)
            .filter(F.col("gap_end").isNotNull()
                    & (F.col("gap_size") >= min_gap))
            .select(key, "gap_start", "gap_end", "gap_size"))
