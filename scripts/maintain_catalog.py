"""Offline catalog maintenance: compaction + snapshot expiry.

The crawl writer deliberately never reclaims disk (plans/crawl.py NOTE:
a round's lineage row pins the PREVIOUS round's table versions for
torn-round replay, so expiring them mid-run would break resume). This is
the companion job Iceberg prescribes — run it BETWEEN crawl runs:

    spark-submit --py-files chrono_scraper_spark.zip \
        scripts/maintain_catalog.py --root /path/to/warehouse \
        [--compact-threshold 32] [--keep-last 2] [--tables t1,t2]

Per table: fold the fragment chain into one fragment when the current
manifest lists more than ``--compact-threshold`` fragments (Iceberg
rewrite_data_files). The rewrite takes the catalog's data-file layout
(plans/catalog.py): zstd parquet, ``ceil(rows / TARGET_FILE_ROWS)`` files,
so any table under ~50,000 rows becomes one file, whatever codec and
file count its older fragments had. Then drop all but the newest
``--keep-last`` manifests and delete fragment directories no retained
manifest references (Iceberg expire_snapshots — this is what actually
reclaims disk).
Prints one JSON line per table and a totals line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from chrono_scraper_spark.plans.catalog import SnapshotCatalog  # noqa: E402
from chrono_scraper_spark.session import get_spark  # noqa: E402


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True, help="catalog warehouse root")
    ap.add_argument("--tables", default=None,
                    help="comma list; default: every table dir under root")
    ap.add_argument("--compact-threshold", type=int, default=32,
                    help="compact when the current manifest lists more "
                         "fragments than this (0 = always compact)")
    ap.add_argument("--keep-last", type=int, default=2,
                    help="snapshots to retain per table (>=1)")
    ap.add_argument("--master", default=None,
                    help="spark master (default: engine default)")
    args = ap.parse_args()

    spark = get_spark(**({"master": args.master} if args.master else {}))
    cat = SnapshotCatalog(spark, args.root)
    if args.tables:
        tables = [t.strip() for t in args.tables.split(",") if t.strip()]
    else:
        tables = sorted(
            d for d in os.listdir(args.root)
            if os.path.isdir(os.path.join(args.root, d))
            and cat.exists(d))

    before_total = after_total = 0
    for table in tables:
        before = _dir_bytes(os.path.join(args.root, table))
        m = cat.manifest(table)
        n_frags = len(m.get("fragments") or [m]) if m else 0
        compacted = False
        if n_frags > args.compact_threshold:
            cat.compact(table, properties={"maintenance": True})
            compacted = True
        expired = cat.expire_snapshots(table, keep_last=max(1, args.keep_last))
        after = _dir_bytes(os.path.join(args.root, table))
        before_total += before
        after_total += after
        print(json.dumps({
            "table": table,
            "fragments_before": n_frags,
            "compacted": compacted,
            "expired_versions": expired.get("expired_versions", []),
            "bytes_before": before,
            "bytes_after": after,
            "row_count": cat.row_count(table),
        }), flush=True)

    print(json.dumps({
        "summary": "maintenance complete",
        "tables": len(tables),
        "bytes_before": before_total,
        "bytes_after": after_total,
        "reclaimed_bytes": before_total - after_total,
    }), flush=True)


if __name__ == "__main__":
    main()
