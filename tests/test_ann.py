"""ANN: brute-force correctness on the driver testdata; LSH recall + subset
properties."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chrono_scraper_spark.operators import ann

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _numpy_topk(rows, queries, k):
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        q = q / np.linalg.norm(q)
        cos = mat @ q
        order = np.lexsort((ids, -cos))[:k]
        out[qid] = [int(ids[i]) for i in order]
    return out


def test_bruteforce_matches_numpy(spark, emb):
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = ann.cosine_topk_bruteforce(emb, queries, k=5)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    qs = [(r["query_id"], list(r["embedding"])) for r in queries.collect()]
    exp = _numpy_topk(rows, qs, 5)
    for qid in exp:
        mine = [n for _, n in sorted(got_map[qid])]
        assert mine == exp[qid], qid
        assert mine[0] == qid  # self is its own nearest neighbor


def test_lsh_topk_recall(spark, emb):
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = ann.cosine_topk_bruteforce(emb, queries, k=5)
    approx = ann.cosine_topk_lsh(emb, queries, k=5, n_planes=6)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # every LSH result is a real vector ranked by exact cosine, and recall
    # at these settings should be non-trivial
    recall = len(a & b) / len(b)
    assert recall >= 0.3, recall
    # the query's own vector is always found (identical signature)
    for qid in [r["query_id"] for r in queries.collect()]:
        assert (qid, qid) in a


def test_ivf_centroids_deterministic(spark, emb):
    c1 = ann.ivf_centroids(emb, 8).collect()
    c2 = ann.ivf_centroids(emb, 8).collect()
    assert [r["centroid_id"] for r in c1] == list(range(1, 9))
    assert [r["centroid_vec"] for r in c1] == [r["centroid_vec"] for r in c2]


def test_ivf_assign_partitions_corpus(spark, emb):
    cents = ann.ivf_centroids(emb, 8)
    assigned = ann.ivf_assign(emb, cents, n_probe=1)
    # exactly one list per vector, every list id from the codebook
    assert assigned.count() == emb.count()
    ids = {r["centroid_id"] for r in
           assigned.select("centroid_id").distinct().collect()}
    assert ids <= set(range(1, 9))
    # n_probe=3 triples the assignment fan-out
    assert ann.ivf_assign(emb, cents, n_probe=3).count() == 3 * emb.count()


def test_ivf_topk_recall(spark, emb):
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = ann.cosine_topk_bruteforce(emb, queries, k=5)
    approx = ann.cosine_topk_ivf(emb, queries, k=5, n_centroids=8, n_probe=3)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.3, recall
    # the query's own vector lands in its own probed list (probe 1 = its
    # nearest centroid = the corpus copy's assigned list)
    for qid in [r["query_id"] for r in queries.collect()]:
        assert (qid, qid) in a


def test_ivf_probe_widening_monotone(spark, emb):
    """More probes ⇒ candidate superset ⇒ recall can only grow."""
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in ann.cosine_topk_bruteforce(emb, queries, k=5).collect()}
    rec = []
    for p in (1, 4):
        a = {(r["query_id"], r["neighbor_id"]) for r in ann.cosine_topk_ivf(
            emb, queries, k=5, n_centroids=8, n_probe=p).collect()}
        rec.append(len(a & brute) / len(brute))
    assert rec[1] >= rec[0], rec


def test_headline_cosines_round_once(spark, tmp_path):
    """``ann_topk`` and ``embedding_near_dups`` round each cosine once, to 3
    places, as their DuckDB twins do. Rounding a 6-place value again moves
    a cosine just below a 3-place half across it: 0.33749967 → 0.3375 →
    0.338, and 0.99949996 → 0.9995 → 1.0."""
    import math

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chrono_scraper_spark.queries.q_embed import (
        SQL_ANN_TOPK,
        SQL_EMBEDDING_NEAR_DUPS,
        q_ann_topk,
        q_embedding_near_dups,
    )

    def unit(c):
        return [c, math.sqrt(1.0 - c * c)]

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/embeddings.parquet"
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1, 2], pa.int32()),
        "embedding": [[1.0, 0.0], unit(0.33749967), unit(0.99949996)],
    }), path)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")

    ann_rows = {(r["query_id"], r["neighbor_id"]): r["cosine"]
                for r in q_ann_topk(spark, sf_dir).collect()}
    assert ann_rows[(0, 1)] == 0.337
    assert ann_rows[(0, 2)] == 0.999
    assert ann_rows == {(q, n): c for q, n, _rank, c in
                        con.sql(SQL_ANN_TOPK).fetchall()}

    dups = {(r["a"], r["b"]): r["cosine"]
            for r in q_embedding_near_dups(spark, sf_dir).collect()}
    assert dups[(0, 2)] == 0.999
    assert dups == {(a, b): c for a, b, c in
                    con.sql(SQL_EMBEDDING_NEAR_DUPS).fetchall()}
