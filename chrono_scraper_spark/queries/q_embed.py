"""Embeddings: ANN top-k + near-dup.

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.operators import ann as ANN
from chrono_scraper_spark.operators import text_dedup as TD

from ._shared import _t


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ANN.cosine_topk_bruteforce(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", 3).alias("cosine"))

SQL_ANN_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, neighbor_id,
  CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
  round(cos, 3) AS cosine
FROM scored
QUALIFY rank <= 5"""

def q_embedding_near_dups(spark, sf_dir):
    """Runs the BANDED hyperplane-LSH path (the 100 TB-scale construction);
    the oracle is the exact all-pairs SQL — the exact-cosine verify stage
    makes LSH output exact wherever recalled, and the planted pairs are
    identical vectors (cosine 1.0), which agree on every plane of every
    band, so recall is 1 by construction and the hash must match."""
    emb = _t(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    both = emb.select("vec_id", "embedding").unionByName(clones)
    out = TD.embedding_near_duplicates(both, threshold=0.999,
                                       bands=6, r_planes=4)
    return out.select("a", "b", F.round("cosine", 3).alias("cosine"))

def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over embeddings + planted clones: md5-
    seeded 16-centroid codebook, zero-shuffle broadcast argmax assignment,
    within-cluster pairwise cosine ≥ 0.95 → keep-first-by-id. A clone is
    identical to its source vector, so it lands in the same cluster with
    cosine 1.0 and must be dropped with dup_of = source id. The oracle
    recomputes codebook, assignment, pair graph and keep rule relationally."""
    emb = _t(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    both = emb.select("vec_id", "embedding").unionByName(clones)
    return TD.semdedup(both, n_centroids=16, threshold=0.95)

SQL_SEMDEDUP = """
WITH eboth AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 50 = 0
),
cb AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT)
         AS centroid_id, v AS cv
  FROM eboth
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
asg AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(e.v, c.cv)
          / (sqrt(list_dot_product(e.v, e.v))
             * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        c.centroid_id ASC) AS rnk
    FROM eboth e CROSS JOIN cb c)
  WHERE rnk = 1
),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b,
    round(list_dot_product(l.v, r.v)
      / (sqrt(list_dot_product(l.v, l.v))
         * sqrt(list_dot_product(r.v, r.v))), 6) AS c6
  FROM asg l JOIN asg r
    ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
),
dups AS (
  SELECT b AS vec_id, min(a) AS dup_of, max(c6) AS max_cos
  FROM pairs WHERE c6 >= 0.95 GROUP BY b
)
SELECT asg.vec_id, asg.centroid_id,
  d.dup_of IS NULL AS is_kept, d.dup_of, d.max_cos
FROM asg LEFT JOIN dups d ON asg.vec_id = d.vec_id"""

SQL_EMBEDDING_NEAR_DUPS = """
WITH eboth AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 50 = 0
),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b,
    list_dot_product(l.v, r.v)
      / (sqrt(list_dot_product(l.v, l.v))
         * sqrt(list_dot_product(r.v, r.v))) AS cos
  FROM eboth l JOIN eboth r ON l.vec_id < r.vec_id
)
SELECT a, b, round(cos, 3) AS cosine FROM pairs WHERE cos >= 0.999"""
