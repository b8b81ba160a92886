"""Snapshot-versioned table catalog (the Iceberg surface of the engine).

The production design is Iceberg (north_rule): `pages`, `frontier`,
`url_seen`, `fetch_log`, `page_index`, `inverted_terms`, `crawl_rounds` are
Iceberg tables; dedup-insert is ``MERGE INTO … WHEN NOT MATCHED THEN INSERT``;
resume reads the last committed snapshot; lineage hangs off snapshot metadata.
This container has no Iceberg runtime jar, so the same contract is provided
over plain parquet with an explicit manifest chain — one JSON manifest per
snapshot, an atomically-replaced ``_current`` pointer, full time-travel reads.
Every method documents its Iceberg equivalent; swapping the backend is a
catalog-config change, not an engine change.

Commit protocol (crash-safe): write the new snapshot's data directory, then
its manifest file, then ``os.replace`` the ``_current`` pointer. A crash
before the pointer swap leaves the previous snapshot current — exactly
Iceberg's metadata-pointer semantics.

Schema ids: every manifest carries a ``schema_id``, the content hash of the
table schema at that snapshot (Iceberg's ``current-schema-id``). The schema
itself is stored once per distinct schema under ``_schemas/<id>.json``, not
inline in each manifest. A delta commit's schema is the parent's plus any
columns the new fragment adds, taken from ``df.schema`` on the driver; reads
pass it to ``spark.read.schema(...)``, so no read infers a schema or merges
fragment footers, and building a read submits no Spark job. A manifest
without a schema id is never read.

Scale notes: commits are DELTA-APPEND (Iceberg fast-append / format-v2
merge-on-read semantics): ``append`` and ``merge_not_matched`` write ONLY the
delta rows as a new parquet fragment, and the manifest lists the snapshot's
fragment set; a read is the union of the listed fragments. Commit cost is
O(delta), never O(accumulated table) — the 10^10-key ``url_seen`` table is
never rewritten, round over round. ``commit`` (overwrite) replaces the
fragment set; ``compact`` folds the fragment chain back into right-sized
files when fragment count grows (Iceberg rewrite_data_files analog).

Data-file layout (Iceberg write properties): every write is compressed
with ``PARQUET_CODEC`` (zstd, Iceberg's default
``write.parquet.compression-codec``), and a write whose caller knows a
bound on its rows is coalesced to ``ceil(rows / TARGET_FILE_ROWS)`` data
files (Iceberg ``write.target-file-size-bytes``, expressed in rows). A
round-sized delta is one file instead of one per input partition, so a
fragment's per-file cost — parquet footer, Hadoop ``.crc`` sidecar, one
write task — is paid once. The codec is a catalog property, not a session
key: fragments written under another codec (snappy, before this layout)
read unchanged, and ``compact`` rewrites them in the current layout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Iceberg write properties of every data file the catalog writes (module
# docstring): the codec, and the row target of one file — the reference's
# 50-100 MB data file at pages_out's ~2 KB/row under zstd
PARQUET_CODEC = "zstd"
TARGET_FILE_ROWS = 50_000

_CURRENT = "_current"
_MANIFESTS = "_manifests"
_SCHEMAS = "_schemas"
# sentinel: distinguishes "no expect_version supplied" from "expected no
# table yet" (None) in merge_not_matched
_UNSET = object()


def _nullable(dtype: dict) -> dict:
    """A schema's JSON form with every field, element and value nullable:
    the schema a parquet read reports (Spark reads file sources
    ``asNullable``), so a pinned read and an inferred read agree."""
    if not isinstance(dtype, dict):
        return dtype
    out = dict(dtype)
    kind = out.get("type")
    if kind == "struct":
        out["fields"] = [dict(f, nullable=True, type=_nullable(f["type"]))
                         for f in out["fields"]]
    elif kind == "array":
        out.update(containsNull=True, elementType=_nullable(out["elementType"]))
    elif kind == "map":
        out.update(valueContainsNull=True, keyType=_nullable(out["keyType"]),
                   valueType=_nullable(out["valueType"]))
    return out


def _with_new_columns(parent: StructType, delta: StructType) -> StructType:
    """The parent schema plus the columns of ``delta`` it lacks, appended in
    ``delta``'s order (what ``mergeSchema`` infers over the fragments)."""
    have = set(parent.fieldNames())
    return StructType(parent.fields
                      + [f for f in delta.fields if f.name not in have])


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str, version: int) -> str:
        return os.path.join(self._tdir(table), _MANIFESTS, f"v{version:07d}.json")

    def _data_dir(self, table: str, version: int) -> str:
        return os.path.join(self._tdir(table), "data", f"v{version:07d}")

    def _schema_path(self, table: str, schema_id: str) -> str:
        return os.path.join(self._tdir(table), _SCHEMAS, f"{schema_id}.json")

    # -- schemas -------------------------------------------------------------
    def _store_schema(self, table: str, schema: StructType) -> str:
        """Record ``schema`` for ``table`` once per distinct content and
        return its id (a hash of the nullable schema JSON)."""
        text = json.dumps(_nullable(schema.jsonValue()), sort_keys=True,
                          separators=(",", ":"))
        schema_id = hashlib.sha256(text.encode()).hexdigest()[:16]
        path = self._schema_path(table, schema_id)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, path)
        return schema_id

    def schema(self, table: str, version: int | None = None) -> StructType:
        """The table schema at a snapshot, from its manifest's schema id —
        a local metadata read, never a Spark job."""
        version = version if version is not None else self.current_version(table)
        m = self.manifest(table, version)
        if m is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        schema_id = m.get("schema_id")
        if schema_id is None:
            raise ValueError(f"{table} v{version}: manifest has no schema id")
        with open(self._schema_path(table, schema_id)) as f:
            return StructType.fromJson(json.load(f))

    # -- snapshot chain ----------------------------------------------------
    def current_version(self, table: str) -> int | None:
        p = os.path.join(self._tdir(table), _CURRENT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, table: str, version: int | None = None) -> dict | None:
        version = version if version is not None else self.current_version(table)
        if version is None:
            return None
        with open(self._manifest_path(table, version)) as f:
            return json.load(f)

    def snapshots(self, table: str) -> list[dict]:
        """All committed manifests, oldest first (Iceberg: snapshots metadata
        table)."""
        mdir = os.path.join(self._tdir(table), _MANIFESTS)
        if not os.path.isdir(mdir):
            return []
        out = []
        for name in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
        cur = self.current_version(table)
        return [m for m in out if m["version"] <= (cur if cur is not None else -1)]

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    # -- reads ---------------------------------------------------------------
    def _fragments(self, table: str, version: int) -> list[str]:
        """Absolute fragment paths of a snapshot, as its manifest lists."""
        return [os.path.join(self.root, r)
                for r in self.manifest(table, version)["fragments"]]

    def _fragment_row_count(self, frag_abs: str) -> int:
        """Row count of one fragment dir from parquet FOOTERS only — a local
        metadata read, no Spark job (Iceberg stores per-file record counts in
        its manifests; parquet footers carry the same number)."""
        import pyarrow.parquet as pq

        total = 0
        for dirpath, _dirs, files in os.walk(frag_abs):
            for name in files:
                if name.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(dirpath, name)).metadata.num_rows
        return total

    def row_count(self, table: str, version: int | None = None) -> int:
        """Snapshot record count WITHOUT a Spark count job: the manifest's
        ``row_count`` when the committer recorded it, else the sum of the
        snapshot fragments' parquet-footer counts (pure metadata — O(#files)
        local reads, never O(rows)). Iceberg analog: snapshot summary's
        ``total-records``."""
        version = version if version is not None else self.current_version(table)
        if version is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        m = self.manifest(table, version)
        rc = m.get("row_count", -1) if m else -1
        if rc is not None and rc >= 0:
            return rc
        return sum(self._fragment_row_count(p)
                   for p in self._fragments(table, version))

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Current (or time-travel) snapshot read = union of the manifest's
        fragment files under the snapshot's pinned schema: fragments
        written before a column add read it as NULL, and no Spark job runs
        until the first action. Iceberg:
        ``spark.read.option("snapshot-id", …).table(table)``."""
        version = version if version is not None else self.current_version(table)
        if version is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        schema = self.schema(table, version)
        return self.spark.read.schema(schema).parquet(
            *self._fragments(table, version))

    def read_incremental(self, table: str, from_version: int,
                         to_version: int | None = None) -> DataFrame:
        """T10/CDC: ONLY the rows added after ``from_version`` up to
        ``to_version`` (default current) — the Iceberg incremental read
        (``spark.read.option("start-snapshot-id", …)``). With delta-fragment
        manifests this is a pure metadata diff: read the fragments present
        in ``to`` but not in ``from``; no data comparison, no full scan.
        Exact for append/merge snapshots; an overwrite/compact inside the
        range re-baselines the table (same caveat as Iceberg incremental
        reads, which require append-only history)."""
        to_version = (to_version if to_version is not None
                      else self.current_version(table))
        if to_version is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        old = set(self._fragments(table, from_version)) \
            if from_version is not None else set()
        new = [p for p in self._fragments(table, to_version) if p not in old]
        if not new:
            return self.read(table, to_version).limit(0)
        return self.spark.read.schema(
            self.schema(table, to_version)).parquet(*new)

    def read_or_empty(self, table: str, schema: str) -> DataFrame:
        if self.exists(table):
            return self.read(table)
        return self.spark.createDataFrame([], schema)

    # -- commits -------------------------------------------------------------
    def _write_fragment(self, table: str, version: int, df: DataFrame,
                        max_rows: int | None = None) -> str:
        """Write one fragment dir for the snapshot; returns its root-relative
        path (what the manifest stores). ``max_rows`` bounds the rows of
        ``df`` when the caller knows one without a Spark job; the write is
        then coalesced to ``ceil(max_rows / TARGET_FILE_ROWS)`` files (at
        least one). ``coalesce`` adds no stage or job, unlike a repartition
        or a count; without a bound the input's partitioning is kept."""
        if max_rows is not None:
            df = df.coalesce(max(1, math.ceil(max_rows / TARGET_FILE_ROWS)))
        data_dir = self._data_dir(table, version)
        (df.write.mode("overwrite").option("compression", PARQUET_CODEC)
         .parquet(data_dir))
        return os.path.relpath(data_dir, self.root)

    def _write_rows_fragment(self, table: str, version: int,
                             rows: list[tuple], schema: StructType) -> str:
        """``_write_fragment`` for a few driver-side rows: one parquet file
        written with pyarrow on the driver, so no Spark job runs."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        data_dir = self._data_dir(table, version)
        shutil.rmtree(data_dir, ignore_errors=True)  # a torn earlier attempt
        os.makedirs(data_dir)
        names = schema.fieldNames()
        pq.write_table(
            pa.Table.from_pylist([dict(zip(names, r)) for r in rows],
                                 schema=to_arrow_schema(schema)),
            os.path.join(data_dir, "part-00000.parquet"),
            compression=PARQUET_CODEC)
        return os.path.relpath(data_dir, self.root)

    def _commit_delta(self, table: str, frag: str, schema: StructType, *,
                      version: int, prev: int | None, operation: str,
                      properties: dict | None) -> dict:
        """Commit a delta fragment: the manifest lists the parent's
        fragments plus ``frag``; the schema is the parent's plus the
        columns ``schema`` adds."""
        rel_prev: list[str] = []
        if prev is not None:
            rel_prev = [os.path.relpath(p, self.root)
                        for p in self._fragments(table, prev)]
            schema = _with_new_columns(self.schema(table, prev), schema)
        return self._commit_manifest(table, rel_prev + [frag],
                                     version=version, prev=prev,
                                     operation=operation,
                                     properties=properties,
                                     row_count=self._delta_row_count(
                                         table, prev, frag),
                                     schema_id=self._store_schema(
                                         table, schema))

    def _delta_row_count(self, table: str, prev: int | None,
                         new_frag_rel: str) -> int:
        """Cumulative record count for a delta commit: parent snapshot count
        (manifest-recorded, or footer-summed once for legacy snapshots) plus
        the new fragment's footer count. O(#new files) local metadata reads
        in steady state — never a Spark job."""
        base = self.row_count(table, prev) if prev is not None else 0
        return base + self._fragment_row_count(
            os.path.join(self.root, new_frag_rel))

    def _commit_manifest(self, table: str, fragments: list[str], *,
                         version: int, prev: int | None, operation: str,
                         properties: dict | None,
                         row_count: int | None, schema_id: str) -> dict:
        """Manifest write + atomic ``_current`` pointer swap — the actual
        commit point (a crash before the swap leaves the parent current)."""
        manifest = {
            "table": table,
            "version": version,
            "parent_version": prev,
            "snapshot_id": uuid.uuid4().hex,
            "operation": operation,
            "row_count": -1 if row_count is None else row_count,
            "committed_at_unix": time.time(),
            "fragments": fragments,
            "schema_id": schema_id,
            "properties": properties or {},
        }
        mpath = self._manifest_path(table, version)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        cur = os.path.join(self._tdir(table), _CURRENT)
        tmpc = cur + f".tmp-{uuid.uuid4().hex}"
        with open(tmpc, "w") as f:
            f.write(str(version))
        os.replace(tmpc, cur)
        return manifest

    def commit(self, table: str, df: DataFrame, *, operation: str,
               properties: dict | None = None,
               row_count: int | None = None,
               max_rows: int | None = None) -> dict:
        """OVERWRITE commit: ``df`` becomes the table's entire next snapshot
        (one fragment). Iceberg: ``df.writeTo(table).overwritePartitions()``.

        ``row_count``: caller-provided when already known; otherwise read
        from the written fragment's parquet footers — a local metadata read,
        no extra Spark job (Iceberg gets snapshot record counts from file
        metadata the same way). ``max_rows``: an upper bound on the rows,
        which sizes the data files (``_write_fragment``)."""
        prev = self.current_version(table)
        version = (prev or 0) + 1
        frag = self._write_fragment(table, version, df, max_rows=max_rows)
        if row_count is None:
            row_count = self._fragment_row_count(os.path.join(self.root, frag))
        return self._commit_manifest(table, [frag], version=version,
                                     prev=prev, operation=operation,
                                     properties=properties,
                                     row_count=row_count,
                                     schema_id=self._store_schema(
                                         table, df.schema))

    def append(self, table: str, df: DataFrame, *, operation: str = "append",
               properties: dict | None = None) -> dict:
        """DELTA append (Iceberg fast-append): write ONLY ``df`` as a new
        fragment; the new manifest lists parent fragments + the new one.
        Cost is O(delta) regardless of accumulated table size."""
        prev = self.current_version(table)
        version = (prev or 0) + 1
        frag = self._write_fragment(table, version, df)
        return self._commit_delta(table, frag, df.schema, version=version,
                                  prev=prev, operation=operation,
                                  properties=properties)

    def append_rows(self, table: str, rows: list[tuple], schema: StructType,
                    *, operation: str = "append",
                    properties: dict | None = None) -> dict:
        """``append`` for a few driver-side rows (a round's lineage row):
        the fragment is written on the driver, so no Spark job runs (a
        one-row Spark write took ~0.5 s warm on a 4-core VM)."""
        prev = self.current_version(table)
        version = (prev or 0) + 1
        frag = self._write_rows_fragment(table, version, rows, schema)
        return self._commit_delta(table, frag, schema, version=version,
                                  prev=prev, operation=operation,
                                  properties=properties)

    def merge_not_matched(self, table: str, new_rows: DataFrame,
                          keys: list[str], *, operation: str = "merge",
                          properties: dict | None = None,
                          assume_unique: bool = False,
                          expect_version: "int | None" = _UNSET,
                          max_rows: int | None = None) -> dict:
        """``MERGE INTO table USING new ON keys WHEN NOT MATCHED THEN INSERT``
        (reference semantics: ON CONFLICT DO NOTHING,
        cdx_deduplication_service.py:229-238) as a MERGE-ON-READ delta: the
        anti-join keeps only genuinely-new keys, and ONLY those rows are
        written (one new fragment). The accumulated table is read (for the
        key check) but never rewritten — commit cost stays O(delta) as the
        table grows, matching Iceberg format-v2 merge-on-read.

        ``assume_unique=True`` skips the delta-side key dedup shuffle when
        the caller guarantees key uniqueness (e.g. output of a groupBy on
        the keys).

        ``expect_version``: the snapshot version (or None for "no table
        yet") the caller computed the delta AGAINST, when that computation
        already proves key-newness — e.g. the crawl round's url_seen delta
        is the survivors of an anti-join on exactly that pinned snapshot.
        If the table is still at ``expect_version``, the existing-key scan
        is skipped entirely and commit cost is strictly O(delta) — the
        per-round full-table probe (O(10^10 rows) at target scale) is gone.
        If the table has ADVANCED (a torn-round replay re-running the
        commit), the guarantee no longer covers the gap and the exact
        anti-join runs as before — same idempotency, fast path only when
        provably safe. Iceberg analog: a MERGE whose snapshot-id check
        passes can fast-append validated-new rows.

        ``max_rows``: an upper bound on the rows of ``new_rows`` (hence of
        the delta), which sizes its data files (``_write_fragment``)."""
        if not assume_unique:
            new_rows = new_rows.dropDuplicates(keys)
        prev = self.current_version(table)
        if prev is not None:
            if expect_version is not _UNSET and expect_version == prev:
                fresh = new_rows
            else:
                existing = self.read(table)
                fresh = new_rows.join(existing.select(*keys), keys,
                                      "left_anti")
        else:
            fresh = new_rows
        version = (prev or 0) + 1
        frag = self._write_fragment(table, version, fresh,
                                    max_rows=max_rows)
        return self._commit_delta(table, frag, fresh.schema, version=version,
                                  prev=prev, operation=operation,
                                  properties=properties)

    def compact(self, table: str, *, properties: dict | None = None) -> dict:
        """Fold the fragment chain into one fragment of right-sized zstd
        data files (Iceberg rewrite_data_files with its target file size):
        the manifest's ``row_count`` sizes the rewrite to
        ``ceil(rows / TARGET_FILE_ROWS)`` files, so a chain of small deltas
        becomes one file, whatever codec its fragments were written in.
        Run occasionally — e.g. every N rounds or when
        ``len(manifest['fragments'])`` crosses a threshold — never per-commit.
        The pinned read carries the table schema, so the schema id stays."""
        df = self.read(table)
        return self.commit(table, df, operation="compact",
                           properties=properties,
                           max_rows=self.row_count(table))

    def expire_snapshots(self, table: str, *, keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` analog: drop all but the newest
        ``keep_last`` manifests and DELETE fragment directories no retained
        manifest references (after a ``compact`` the whole pre-compaction
        chain becomes unreferenced — this is what actually reclaims disk).
        Time travel to an expired version raises, exactly like Iceberg.
        Safe ordering: manifests are removed first, data files second, so a
        crash mid-expire can strand unreferenced files (re-run to finish)
        but can never leave a manifest pointing at deleted data.

        Run OFFLINE, between crawl runs: a crawl round's lineage row pins
        the previous round's versions for torn-round replay, so expiring
        versions a potential replay still needs would break resume — the
        same writer/maintenance separation Iceberg prescribes."""
        import shutil

        versions = sorted(s["version"] for s in self.snapshots(table))
        drop, keep = versions[:-keep_last], versions[-keep_last:]
        if not drop:
            return {"expired_versions": [], "deleted_fragments": []}
        keep_frags = set()
        for v in keep:
            keep_frags.update(self._fragments(table, v))
        doomed = set()
        for v in drop:
            doomed.update(f for f in self._fragments(table, v)
                          if f not in keep_frags)
        for v in drop:
            os.remove(self._manifest_path(table, v))
        for frag in doomed:
            shutil.rmtree(frag, ignore_errors=True)
        return {"expired_versions": drop,
                "deleted_fragments": sorted(doomed)}

    def rollback(self, table: str, version: int) -> dict:
        """Iceberg ``rollback_to_snapshot`` analog: commit a NEW snapshot
        whose fragment list is a byte-for-byte copy of ``version``'s — the
        table's current state becomes the old state, but history is
        preserved (the rolled-back-over snapshots stay time-travelable
        until ``expire_snapshots``), exactly like Iceberg's rollback, which
        is itself a new snapshot with the old snapshot's manifest list."""
        m = self.manifest(table, version)
        if m is None:
            raise FileNotFoundError(f"{table} has no snapshot v{version}")
        prev = self.current_version(table)
        new_version = (prev or 0) + 1
        return self._commit_manifest(
            table, list(m["fragments"]), version=new_version, prev=prev,
            operation="rollback",
            properties={"rolled_back_to": version},
            row_count=m.get("row_count", -1), schema_id=m["schema_id"])

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)
