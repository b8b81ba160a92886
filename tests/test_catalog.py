"""Snapshot catalog: commits, time travel, merge idempotency, crash safety."""

from __future__ import annotations

import json
import os

import pytest

from chrono_scraper_spark.plans.catalog import SnapshotCatalog

from .jobcount import count_jobs


def test_commit_read_timetravel(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    m1 = cat.commit("t", df1, operation="append")
    m2 = cat.commit("t", df2, operation="append")
    assert cat.read("t").count() == 2
    assert cat.read("t", version=m1["version"]).count() == 1  # time travel
    assert [s["version"] for s in cat.snapshots("t")] == [1, 2]
    assert m2["parent_version"] == m1["version"]


def test_merge_not_matched_idempotent(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    cat.merge_not_matched("t", rows, ["id"])
    cat.merge_not_matched("t", rows, ["id"])  # replay
    more = spark.createDataFrame([(2, "DIFFERENT"), (3, "c")], "id int, v string")
    cat.merge_not_matched("t", more, ["id"])
    got = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # existing key untouched


def test_append_and_read_or_empty(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    assert cat.read_or_empty("missing", "id int").count() == 0
    cat.append("t", spark.createDataFrame([(1,)], "id int"))
    cat.append("t", spark.createDataFrame([(2,)], "id int"))
    assert cat.read("t").count() == 2


def test_delta_commits_accumulate_fragments(spark, tmp_path):
    """append/merge write ONLY the delta fragment; the manifest chain lists
    accumulated fragments and reads union them (no CoW rewrite)."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.append("t", spark.createDataFrame([(1, "a")], "id int, v string"))
    cat.append("t", spark.createDataFrame([(2, "b")], "id int, v string"))
    cat.merge_not_matched(
        "t", spark.createDataFrame([(2, "X"), (3, "c")], "id int, v string"),
        ["id"])
    m = cat.manifest("t")
    assert len(m["fragments"]) == 3  # one per commit — deltas, not rewrites
    # delta fragment of the merge holds ONLY the genuinely-new key
    frag3 = spark.read.parquet(cat._data_dir("t", 3))
    assert [tuple(r) for r in frag3.collect()] == [(3, "c")]
    got = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # time travel still sees the old fragment set
    assert cat.read("t", version=1).count() == 1
    # compaction folds the chain back to one fragment, same contents
    cat.compact("t")
    assert len(cat.manifest("t")["fragments"]) == 1
    assert {r["id"]: r["v"] for r in cat.read("t").collect()} == got


def test_delta_append_schema_evolution(spark, tmp_path):
    """Fragments may add columns across rounds; reads merge schemas."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.append("t", spark.createDataFrame([(1,)], "id int"))
    cat.append("t", spark.createDataFrame([(2, "b")], "id int, extra string"))
    rows = {r["id"]: r["extra"] for r in cat.read("t").collect()}
    assert rows == {1: None, 2: "b"}


def test_crash_before_pointer_swap_keeps_previous(spark, tmp_path):
    """Simulate a crash after data+manifest write but before the _current
    swap: the previous snapshot must stay current."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit("t", spark.createDataFrame([(1,)], "id int"), operation="a")
    # fake a torn commit: v2 data dir exists, manifest exists, pointer not moved
    df = spark.createDataFrame([(1,), (2,)], "id int")
    df.write.mode("overwrite").parquet(cat._data_dir("t", 2))
    os.makedirs(os.path.dirname(cat._manifest_path("t", 2)), exist_ok=True)
    with open(cat._manifest_path("t", 2), "w") as f:
        f.write('{"table":"t","version":2}')
    assert cat.current_version("t") == 1
    assert cat.read("t").count() == 1
    # the next real commit supersedes the torn one
    cat.commit("t", df, operation="a")
    assert cat.read("t").count() == 2


def test_multi_round_commits_are_o_delta(spark, tmp_path):
    """Delta-commit evidence over a real multi-round crawl: every commit to
    the accumulating tables adds EXACTLY ONE new fragment whose row count
    equals that round's delta — commit cost tracks the delta, never the
    accumulated table (the round-1 copy-on-write rewrote everything every
    round)."""
    from chrono_scraper_spark.corpus import generate_pages
    from chrono_scraper_spark.plans.crawl import CrawlJob

    corpus = str(tmp_path / "pages")
    generate_pages(spark, 60, partitions=4).write.parquet(corpus)
    seeds = spark.createDataFrame(
        [(1, r"https://.*", "regex", None, None, None)],
        "project_id int, domain_name string, match_type string, "
        "url_path string, from_date date, to_date date")
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    job = CrawlJob(spark, cat, corpus, seeds, rps=0.02, burst=2,
                   round_seconds=60.0)   # budget 3 in round 0, then 1/host
    rounds = job.run(max_rounds=4)
    assert len(rounds) >= 3, "need a multi-round crawl for this evidence"

    for table in ("url_seen", "inverted_terms", "fetch_log"):
        versions = sorted(s["version"] for s in cat.snapshots(table))
        frag_counts, frag_rows, totals = [], [], []
        for i, v in enumerate(versions):
            frags = set(cat._fragments(table, v))
            prev = set(cat._fragments(table, versions[i - 1])) if i else set()
            new = frags - prev
            assert prev <= frags, f"{table} v{v} dropped fragments (rewrite)"
            frag_counts.append(len(new))
            frag_rows.append(
                sum(spark.read.parquet(f).count() for f in new))
            totals.append(cat.read(table, v).count())
        # one new fragment per commit, holding only the delta
        assert all(c == 1 for c in frag_counts), (table, frag_counts)
        deltas = [totals[0]] + [totals[i] - totals[i - 1]
                                for i in range(1, len(totals))]
        assert frag_rows == deltas, (table, frag_rows, deltas)
        # the later commits must NOT rewrite the accumulated table: every
        # post-first fragment is strictly smaller than the table it joined
        for i in range(1, len(versions)):
            assert frag_rows[i] < totals[i], (table, i)


def test_expire_snapshots_reclaims_unreferenced_fragments(spark, tmp_path):
    import os

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    for i in range(4):
        cat.append("t", spark.range(i * 10, i * 10 + 10).toDF("v"),
                   properties={"i": i})
    cat.compact("t")                       # v5: one folded fragment
    pre = set()
    for s in cat.snapshots("t"):
        pre.update(cat._fragments("t", s["version"]))
    out = cat.expire_snapshots("t", keep_last=1)
    assert out["expired_versions"] == [1, 2, 3, 4]
    # the four pre-compaction fragments are gone from disk
    assert out["deleted_fragments"]
    for frag in out["deleted_fragments"]:
        assert not os.path.exists(frag)
    # current read still complete
    assert cat.read("t").count() == 40
    # time travel to an expired version raises (Iceberg semantics)
    import pytest as _pytest

    with _pytest.raises(Exception):
        cat.read("t", version=2).count()
    # idempotent / no-op when nothing to drop
    assert cat.expire_snapshots("t", keep_last=5)["expired_versions"] == []


def test_expire_keeps_fragments_still_referenced(spark, tmp_path):
    """Delta chains share fragments: expiring old versions must keep every
    fragment a retained manifest still lists."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh2"))
    for i in range(3):
        cat.append("t", spark.range(i * 5, i * 5 + 5).toDF("v"))
    out = cat.expire_snapshots("t", keep_last=1)   # v3 references ALL frags
    assert out["expired_versions"] == [1, 2]
    assert out["deleted_fragments"] == []          # all still referenced
    assert cat.read("t").count() == 15


def test_rollback_restores_state_preserving_history(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit("t", spark.createDataFrame([(1,)], "a int"), operation="init")
    cat.append("t", spark.createDataFrame([(2,)], "a int"))
    cat.append("t", spark.createDataFrame([(3,)], "a int"))
    assert {r["a"] for r in cat.read("t").collect()} == {1, 2, 3}

    info = cat.rollback("t", 1)
    assert info["operation"] == "rollback"
    assert info["properties"]["rolled_back_to"] == 1
    # current state is v1's content, committed as a NEW version
    assert cat.current_version("t") == 4
    assert {r["a"] for r in cat.read("t").collect()} == {1}
    # history preserved: the rolled-over snapshots still time-travel
    assert {r["a"] for r in cat.read("t", version=3).collect()} == {1, 2, 3}
    # appends continue from the rolled-back state
    cat.append("t", spark.createDataFrame([(9,)], "a int"))
    assert {r["a"] for r in cat.read("t").collect()} == {1, 9}
    # unknown version refuses
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        cat.rollback("t", 99)


def test_row_count_from_metadata_no_spark_job(spark, tmp_path):
    """Snapshot record counts come from manifests / parquet footers (the
    Iceberg total-records analog) — exact across commit kinds, including the
    merge anti-join's dropped duplicates, and available per pinned version."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    m1 = cat.commit("t", spark.createDataFrame(
        [(i, "x") for i in range(7)], "id int, v string"), operation="append")
    assert m1["row_count"] == 7
    assert cat.row_count("t") == 7
    cat.append("t", spark.createDataFrame([(100, "y"), (101, "y")],
                                          "id int, v string"))
    assert cat.row_count("t") == 9
    # merge: 2 of 3 keys already exist -> only 1 genuinely-new row lands
    cat.merge_not_matched("t", spark.createDataFrame(
        [(0, "dup"), (6, "dup"), (200, "new")], "id int, v string"), ["id"])
    assert cat.row_count("t") == 10
    assert cat.row_count("t", version=m1["version"]) == 7  # time travel
    # footer fallback path: blank out the recorded count
    import json as _json
    mp = cat._manifest_path("t", cat.current_version("t"))
    m = _json.load(open(mp))
    m["row_count"] = -1
    _json.dump(m, open(mp, "w"))
    assert cat.row_count("t") == 10
    # compact preserves the exact count
    cat.compact("t")
    assert cat.row_count("t") == 10
    assert cat.read("t").count() == 10


def test_merge_expect_version_fast_path_and_replay_fallback(spark, tmp_path):
    """expect_version skips the existing-key probe only while the table still
    sits at the snapshot the delta was computed against; a replayed commit
    (version advanced) falls back to the exact anti-join and converges."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    m0 = cat.merge_not_matched("t", base, ["id"], expect_version=None)
    assert {r["id"] for r in cat.read("t").collect()} == {1, 2}
    # normal round: delta proven-new vs version m0 -> fast path
    delta = spark.createDataFrame([(3, "c")], "id int, v string")
    m1 = cat.merge_not_matched("t", delta, ["id"],
                               expect_version=m0["version"])
    assert {r["id"] for r in cat.read("t").collect()} == {1, 2, 3}
    # torn-round replay: same delta re-commits against the ADVANCED table —
    # stale expect_version forces the key probe, nothing duplicates
    cat.merge_not_matched("t", delta, ["id"], expect_version=m0["version"])
    got = [r["id"] for r in cat.read("t").collect()]
    assert sorted(got) == [1, 2, 3]
    # replay of the FIRST commit (expected None, table now exists): probe runs
    cat.merge_not_matched("t", base, ["id"], expect_version=None)
    assert sorted(r["id"] for r in cat.read("t").collect()) == [1, 2, 3]
    assert cat.row_count("t") == 3
    assert m1["row_count"] == 3


def _three_fragments(spark, cat):
    """Three delta fragments; the third adds a column."""
    cat.append("t", spark.createDataFrame([(1, "a")], "id int, v string"))
    cat.merge_not_matched(
        "t", spark.createDataFrame([(2, "b")], "id int, v string"), ["id"])
    cat.append("t", spark.createDataFrame([(3, "c", 1.5)],
                                          "id int, v string, extra double"))


def test_read_pins_schema_like_merge_schema(spark, tmp_path):
    """A read under the manifest's schema id returns what a mergeSchema
    read over the same fragments infers, rows and schema, and building it
    submits no Spark job (no inference, no footer merge)."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    _three_fragments(spark, cat)
    inferred = spark.read.option("mergeSchema", "true").parquet(
        *cat._fragments("t", cat.current_version("t")))
    with count_jobs(spark) as jobs:
        df = cat.read("t")
        schema = df.schema
    assert jobs["n"] == 0
    assert schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())
    assert {r["id"]: r["extra"] for r in df.collect()} == {
        1: None, 2: None, 3: 1.5}
    # time travel reads the older schema, without the added column
    assert cat.read("t", version=2).columns == ["id", "v"]
    # the incremental read is pinned the same way
    with count_jobs(spark) as jobs:
        inc = cat.read_incremental("t", 1)
        inc_schema = inc.schema
    assert jobs["n"] == 0
    assert inc_schema == schema
    assert sorted(r["id"] for r in inc.collect()) == [2, 3]
    # one schema file per distinct schema, not one per manifest
    assert len(os.listdir(os.path.join(cat._tdir("t"), "_schemas"))) == 2
    assert len({s["schema_id"] for s in cat.snapshots("t")}) == 2


def test_compact_and_rollback_keep_schema_id(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    _three_fragments(spark, cat)
    sid = cat.manifest("t")["schema_id"]
    assert cat.compact("t")["schema_id"] == sid
    assert cat.row_count("t") == 3
    sid_v1 = cat.manifest("t", 1)["schema_id"]
    assert sid_v1 != sid
    assert cat.rollback("t", 1)["schema_id"] == sid_v1
    assert cat.read("t").columns == ["id", "v"]


def test_torn_manifest_without_schema_id_is_never_read(spark, tmp_path):
    """A torn commit (manifest written, pointer not swapped) carries no
    schema id: reads keep the previous snapshot, and an explicit read of
    the torn version raises instead of inferring a schema."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit("t", spark.createDataFrame([(1,)], "id int"), operation="a")
    spark.createDataFrame([(1,), (2,)], "id int").write.parquet(
        cat._data_dir("t", 2))
    with open(cat._manifest_path("t", 2), "w") as f:
        json.dump({"table": "t", "version": 2, "parent_version": 1,
                   "operation": "a", "fragments": ["t/data/v0000002"],
                   "properties": {}}, f)
    assert cat.read("t").count() == 1
    with pytest.raises(ValueError, match="no schema id"):
        cat.read("t", version=2)
    # the next real commit supersedes the torn manifest
    m = cat.append("t", spark.createDataFrame([(5,)], "id int"))
    assert m["version"] == 2 and m["schema_id"]
    assert sorted(r["id"] for r in cat.read("t").collect()) == [1, 5]


def test_append_rows_writes_driver_rows_without_a_job(spark, tmp_path):
    """``append_rows`` commits a few driver-side rows as a delta fragment
    with no Spark job; a later DataFrame append adds to the same chain."""
    from pyspark.sql.types import IntegerType, StringType, StructField, \
        StructType

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    schema = StructType([StructField("id", IntegerType()),
                         StructField("v", StringType())])
    with count_jobs(spark) as jobs:
        m = cat.append_rows("t", [(1, "a")], schema,
                            properties={"round_idx": 0})
    assert jobs["n"] == 0
    assert m["row_count"] == 1 and m["properties"] == {"round_idx": 0}
    cat.append("t", spark.createDataFrame([(2, "b")], "id int, v string"))
    assert sorted(tuple(r) for r in cat.read("t").collect()) == [
        (1, "a"), (2, "b")]


def _data_files(cat, frag_rel):
    """The parquet data files of one fragment, sorted."""
    frag = os.path.join(cat.root, frag_rel)
    return sorted(os.path.join(frag, n) for n in os.listdir(frag)
                  if n.endswith(".parquet"))


def _codecs(path):
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    return {meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)}


def test_delta_under_row_target_is_one_zstd_file(spark, tmp_path):
    """A delta whose row bound is under ``TARGET_FILE_ROWS`` is ONE zstd
    data file, whatever its input partitioning, and the manifest's
    row_count stays exact. The driver-side lineage write is zstd too; a
    write with no bound keeps its input's partitioning."""
    from pyspark.sql.types import LongType, StructField, StructType

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    rows = spark.range(0, 300, numPartitions=5).selectExpr(
        "id AS k", "repeat(cast(id AS string), 20) AS v")
    m = cat.merge_not_matched("t", rows, ["k"], assume_unique=True,
                              max_rows=300)
    files = _data_files(cat, m["fragments"][-1])
    assert len(files) == 1
    assert _codecs(files[0]) == {"ZSTD"}
    assert m["row_count"] == 300
    # a replayed delta through the probe: only the 100 new keys land
    more = spark.range(200, 400, numPartitions=5).selectExpr(
        "id AS k", "repeat(cast(id AS string), 20) AS v")
    m = cat.merge_not_matched("t", more, ["k"], assume_unique=True,
                              max_rows=200)
    assert len(_data_files(cat, m["fragments"][-1])) == 1
    assert m["row_count"] == 400 == cat.read("t").count()

    schema = StructType([StructField("k", LongType())])
    m = cat.append_rows("lineage", [(1,)], schema)
    assert [_codecs(f) for f in _data_files(cat, m["fragments"][-1])] == [
        {"ZSTD"}]

    m = cat.commit("unbounded", rows, operation="overwrite")
    assert len(_data_files(cat, m["fragments"][-1])) == 5


def test_delta_over_row_target_splits_into_right_sized_files(
        spark, tmp_path, monkeypatch):
    """``ceil(rows / TARGET_FILE_ROWS)`` data files per delta: a 35-row
    delta over 7 input partitions at a 10-row target writes 4 files."""
    from chrono_scraper_spark.plans import catalog as catalog_mod

    monkeypatch.setattr(catalog_mod, "TARGET_FILE_ROWS", 10)
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    rows = spark.range(0, 35, numPartitions=7).selectExpr("id AS k")
    m = cat.merge_not_matched("t", rows, ["k"], assume_unique=True,
                              max_rows=35)
    files = _data_files(cat, m["fragments"][-1])
    assert len(files) == 4
    assert all(_codecs(f) == {"ZSTD"} for f in files)
    assert m["row_count"] == 35


def test_snappy_fragments_read_resume_and_compact_to_zstd(
        spark, tmp_path, monkeypatch):
    """A table whose older fragment was written under another codec and
    the input's partitioning (the layout before right-sized zstd files)
    reads, takes further merges and compacts into right-sized zstd
    files with the same rows."""
    from chrono_scraper_spark.plans import catalog as catalog_mod

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    old = spark.range(0, 60, numPartitions=4).selectExpr(
        "id AS k", "cast(id AS string) AS v")
    monkeypatch.setattr(catalog_mod, "PARQUET_CODEC", "snappy")
    m = cat.merge_not_matched("t", old, ["k"])
    monkeypatch.undo()
    old_files = _data_files(cat, m["fragments"][-1])
    assert len(old_files) > 1
    assert all(_codecs(f) == {"SNAPPY"} for f in old_files)
    assert sorted(r["k"] for r in cat.read("t").collect()) == list(range(60))

    # resume: the merge probes the snappy fragment, so only new keys land
    new = spark.range(40, 120, numPartitions=4).selectExpr(
        "id AS k", "concat('new-', cast(id AS string)) AS v")
    m = cat.merge_not_matched("t", new, ["k"], max_rows=80)
    assert m["row_count"] == 120
    assert [_codecs(f) for f in _data_files(cat, m["fragments"][-1])] == [
        {"ZSTD"}]
    before = sorted(tuple(r) for r in cat.read("t").collect())
    assert len(before) == 120
    assert dict(before)[50] == "50"  # the existing key was not overwritten

    monkeypatch.setattr(catalog_mod, "TARGET_FILE_ROWS", 50)
    m = cat.compact("t")
    files = _data_files(cat, m["fragments"][0])
    assert len(m["fragments"]) == 1 and len(files) == 3
    assert all(_codecs(f) == {"ZSTD"} for f in files)
    assert m["row_count"] == 120
    assert sorted(tuple(r) for r in cat.read("t").collect()) == before
