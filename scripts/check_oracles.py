"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row count, column names, and values
(order-insensitive: rows sorted, columns sorted by name; floats compared to
1e-9 relative). Ends with one ``N OK, M rows-only, F FAIL`` count line and
exits non-zero on any mismatch.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from chrono_scraper_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB → Spark type-name normalization for schema comparison
_DUCK_TYPES = {
    "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "smallint",
    "TINYINT": "tinyint", "HUGEINT": "hugeint", "DOUBLE": "double",
    "FLOAT": "float", "VARCHAR": "string", "DATE": "date",
    "TIMESTAMP": "timestamp", "BOOLEAN": "boolean",
}


def norm_duck_type(t: str) -> str:
    return _DUCK_TYPES.get(str(t).upper(), str(t).lower())


def norm_spark_type(t: str) -> str:
    # naive timestamps: ntz and session-tz compare equal as values
    return "timestamp" if t == "timestamp_ntz" else t


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(map(str, t)))


def values_equal(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)):
        if a == b:
            return True
        return math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(b, float) and isinstance(a, int):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    n_ok = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {c: norm_spark_type(t) for c, t in sdf.dtypes}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check: {len(srows)})")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            dtypes = {c: norm_duck_type(t)
                      for c, t in zip(rel.columns, rel.types)}
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        type_diffs = {c: (stypes.get(c), dtypes.get(c)) for c in scols
                      if c in dtypes and stypes.get(c) != dtypes.get(c)}
        if type_diffs:
            failures.append((name, f"dtype mismatch: {type_diffs}"))
            print(f"FAIL {name}: dtype mismatch: {type_diffs}")
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        ok = True
        if sc != dc:
            failures.append((name, f"schema: spark={sc} duck={dc}"))
            ok = False
        elif len(sr) != len(dr):
            failures.append((name, f"rows: spark={len(sr)} duck={len(dr)}"))
            ok = False
        else:
            for i, (a, b) in enumerate(zip(sr, dr)):
                if not all(values_equal(x, y) for x, y in zip(a, b)):
                    failures.append((name, f"row {i}: spark={a} duck={b}"))
                    ok = False
                    break
        n_ok += ok
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name}: {len(sr)} rows in {time.time()-t0:.1f}s")
    print()
    print(f"{n_ok} OK, {n_rows_only} rows-only, {len(failures)} FAIL")
    if failures:
        print(f"{len(failures)} FAILURES:")
        for name, msg in failures:
            print(f"  {name}: {msg[:300]}")
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    main(only=only)
