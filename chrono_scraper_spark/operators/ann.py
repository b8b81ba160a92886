"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k (exact; the recall oracle). Scale path:
random-hyperplane LSH bucketing with multi-probe — candidates come from the
query's bucket plus hamming-1 neighbor buckets, then exact cosine ranks the
(much smaller) candidate set. Both paths are pure DataFrame ops: the dot
product is ``aggregate(zip_with(...))`` inside whole-stage codegen, not a
Python UDF.

At 100 TB / 10^9 vectors: the corpus side is bucketed once (write-time
partitioning on bucket), queries broadcast, and each query's probe list
prunes the scan to a handful of bucket partitions. Brute force stays the
correctness oracle at any scale (one shuffle-free pass + per-query top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text_dedup import cosine


def _plane_expr(vec: Column, p, seed: int) -> Column:
    """Deterministic pseudo-random hyperplane component signs: the plane for
    index p has coordinates derived from xxhash64 — reproducible anywhere,
    no RNG state shipped."""
    dim = F.size(vec)
    plane = F.transform(
        F.sequence(F.lit(1), dim),
        lambda d: (F.pmod(F.xxhash64(p * F.lit(100003) + d, F.lit(seed)),
                          F.lit(2001)) - 1000).cast("double") / 1000.0,
    )
    return F.aggregate(F.zip_with(vec, plane, lambda x, r: x * r),
                       F.lit(0.0), lambda acc, v: acc + v)


def lsh_signature(vec: Column, n_planes: int, seed: int = 7) -> Column:
    """Bit-string bucket id: sign pattern across n_planes hyperplanes."""
    return F.concat_ws("", F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(_plane_expr(vec, p, seed) >= 0,
                         F.lit("1")).otherwise(F.lit("0")),
    ))


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against the
    corpus, rank per query. Deterministic tie-break on neighbor id.
    Output: (query_id, neighbor_id, rank, cosine). The cosine is unrounded:
    a caller that rounds must round once, or a value just below a rounding
    half (0.33749967 → 0.3375 → 0.338) lands on the wrong side of it."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", cosine(F.col("cv"), F.col("qv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def _hamming1_probes(sig: Column, n_planes: int) -> Column:
    """array<string>: the signature itself + all hamming-1 variants."""
    flips = [
        F.concat(F.substring(sig, 1, i),
                 F.when(F.substring(sig, i + 1, 1) == "1",
                        F.lit("0")).otherwise(F.lit("1")),
                 F.substring(sig, i + 2, n_planes - i - 1))
        for i in range(n_planes)
    ]
    return F.array(sig, *flips)


def ivf_centroids(corpus: DataFrame, n_centroids: int,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse-quantizer codebook: n_centroids corpus vectors
    picked by hash-order (the standard IVF seeding strategy — real IVF
    refines seeds with k-means; seeds alone already give a valid, recall-
    tunable inverted-file partition and keep the op fully deterministic).
    Output: (centroid_id, centroid_vec) — tiny, always broadcast.

    The pick is ``orderBy(hash).limit(n)`` — TakeOrderedAndProject, i.e. a
    per-partition top-n merged on the driver (n rows), NOT a global sort."""
    seeds = (corpus
             .select(F.col(id_col).alias("_seed_id"),
                     F.col(vec_col).cast("array<double>")
                     .alias("centroid_vec"))
             .orderBy(F.xxhash64(F.col("_seed_id")), F.col("_seed_id"))
             .limit(n_centroids))
    w = Window.orderBy(F.xxhash64(F.col("_seed_id")), F.col("_seed_id"))
    return (seeds.withColumn("centroid_id", F.row_number().over(w))
            .select("centroid_id", "centroid_vec"))


def ivf_assign(df: DataFrame, centroids: DataFrame, n_probe: int = 1,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its n_probe nearest centroids (by cosine),
    adding ``centroid_id`` (n_probe rows per input row).

    ZERO-SHUFFLE: the codebook is folded to a single array<struct> row
    (broadcast nested-loop join of one row), and the per-vector
    top-n_probe argmin is `array_sort` + `slice` over that array inside
    whole-stage codegen — a map-only stage. The naive alternative
    (explode-join all centroids, window-rank per vector) shuffles
    n_centroids × N vector rows; this shuffles nothing."""
    codebook = centroids.agg(
        F.array_sort(F.collect_list(
            F.struct("centroid_id", "centroid_vec"))).alias("_codebook"))
    vec = F.col(vec_col).cast("array<double>")
    ranked = F.slice(
        F.array_sort(F.transform(
            F.col("_codebook"),
            lambda c: F.struct(
                (-cosine(vec, c["centroid_vec"])).alias("neg_cos"),
                c["centroid_id"].alias("centroid_id")),
        )), 1, n_probe)
    return (df.join(F.broadcast(codebook))
            .withColumn("_probe", F.explode(ranked))
            .withColumn("centroid_id", F.col("_probe.centroid_id"))
            .drop("_codebook", "_probe"))


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    n_centroids: int = 16, n_probe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """IVF-Flat ANN: corpus vectors are inverted-file-partitioned by nearest
    centroid (1 list each); each query probes its ``n_probe`` nearest lists;
    exact cosine ranks the candidates. Complements ``cosine_topk_lsh`` —
    IVF adapts to the data distribution (centroids are corpus points) where
    hyperplane LSH is data-oblivious.

    At 10^9 vectors: ``centroid_id`` is the write-time partition key, the
    codebook is a broadcast table, and a query scans ~n_probe/n_centroids of
    the corpus. Recall < 1.0 by construction — verify against
    ``cosine_topk_bruteforce`` (the contract query emits per-query recall).
    """
    # n_centroids rows, but its lineage is a full-corpus TakeOrdered —
    # materialize once so the corpus-side and query-side assigns don't
    # each re-run the seed scan
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col) \
        .localCheckpoint(eager=True)
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("cv")),
        cents, n_probe=1, id_col="neighbor_id", vec_col="cv")
    q = ivf_assign(
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv")),
        cents, n_probe=n_probe, id_col="query_id", vec_col="qv")
    # no distinct needed: each corpus vector is in exactly ONE list and a
    # query's probed lists are distinct, so (query_id, neighbor_id) pairs
    # are unique by construction — a distinct here would shuffle full
    # vectors for nothing
    cands = c.join(F.broadcast(q), "centroid_id").select(
        "query_id", "neighbor_id", "cv", "qv")
    scored = cands.withColumn("cosine", cosine(F.col("cv"), F.col("qv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    n_planes: int = 8, seed: int = 7,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """ANN top-k: corpus bucketed by hyperplane signature; each query probes
    its own bucket + hamming-1 neighbors (multi-probe doubles recall for
    near-boundary vectors); exact cosine ranks candidates.

    Recall < 1.0 by construction — verify against ``cosine_topk_bruteforce``.
    At scale the bucket column is a write-time partition key, so a probe
    reads ~(n_planes+1)/2^n_planes of the corpus.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("bucket", lsh_signature(F.col("cv"), n_planes, seed))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn(
        "probe",
        F.explode(_hamming1_probes(
            lsh_signature(F.col("qv"), n_planes, seed), n_planes)),
    )
    # no distinct needed: a corpus vector has exactly ONE bucket and the
    # probe array's entries (signature + hamming-1 flips) are pairwise
    # distinct strings, so the bucket==probe join yields each
    # (query_id, neighbor_id) pair at most once by construction
    cands = c.join(F.broadcast(q), c["bucket"] == q["probe"]).select(
        "query_id", "neighbor_id", "cv", "qv")
    scored = cands.withColumn("cosine", cosine(F.col("cv"), F.col("qv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))
