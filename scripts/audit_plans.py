"""Plan-shape audit over every contract query.

For each ``queries()`` entry, builds the DataFrame at a small SF and counts
optimizer-plan nodes that dominate cost at scale: Exchange (shuffle),
Generate (explode — each one usually re-scans its child subtree),
Scan parquet, SortMergeJoin / BroadcastHashJoin / BroadcastNestedLoopJoin /
CartesianProduct, and Window.  Prints one line per query so regressions in
plan shape (e.g. a subtree silently re-expanding into N branches) are
visible without reading 91 formatted plans.

Usage: python scripts/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from chrono_scraper_spark.session import get_spark  # noqa: E402

NODES = [
    ("exch", r"Exchange"),
    ("gen", r"Generate"),
    ("scan", r"Scan parquet|FileScan parquet|Scan ExistingRDD"),
    ("smj", r"SortMergeJoin"),
    ("bhj", r"BroadcastHashJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("cart", r"CartesianProduct"),
    ("win", r"Window"),
    ("agg", r"HashAggregate|ObjectHashAggregate|SortAggregate"),
    ("pyudf", r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark()
    queries = entry_mod.queries()
    rows = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} ERROR {type(exc).__name__}: {exc}")
            continue
        counts = {k: len(re.findall(p, plan)) for k, p in NODES}
        rows.append((name, counts))
        flags = []
        if counts["gen"] > 2:
            flags.append("GEN>2")
        if counts["exch"] > 12:
            flags.append("EXCH>12")
        if counts["cart"] > 0:
            flags.append("CARTESIAN")
        if counts["scan"] > 8:
            flags.append("SCAN>8")
        print(
            f"{name:32s} "
            + " ".join(f"{k}={counts[k]}" for k, _ in NODES)
            + ("   <<< " + ",".join(flags) if flags else "")
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
