"""Dedup family: exact groups, MinHash-LSH vs brute-force Jaccard recall,
SimHash hamming pairs, embedding cosine near-dups (LSH ⊆ exact)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chrono_scraper_spark.operators import text_dedup as TD

BASE = ("the archive stores captures of pages from many hosts and the "
        "index makes them searchable over time with filters")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE + " extra"),                       # near dup of 0
        (3, BASE.replace("archive", "library")),    # near dup of 0
        (4, "completely unrelated words about cooking pasta with garlic "
            "and olive oil in a big pot tonight"),
        (5, "another disjoint document concerning astronomy telescopes "
            "and the orbits of outer planets"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_duplicates(spark, docs):
    out = {r["doc_id"]: r for r in TD.exact_duplicates(docs).collect()}
    assert out[0]["group_size"] == 2 and out[1]["group_size"] == 2
    assert out[0]["is_canonical"] and not out[1]["is_canonical"]
    assert out[1]["canonical_id"] == 0
    assert out[4]["group_size"] == 1 and out[4]["is_canonical"]


def test_minhash_near_duplicates_find_planted_pairs(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             TD.minhash_near_duplicates(docs, threshold=0.5,
                                        n_hashes=16, bands=8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8
    assert not any(4 in p or 5 in p for p in pairs)


def test_lsh_candidates_superset_check(spark, docs):
    """Every verified pair must satisfy exact Jaccard; brute-force exact
    Jaccard over all pairs must find nothing above threshold that LSH+verify
    missed at these (generous) band settings."""
    ids = docs.select("doc_id")
    all_pairs = (ids.withColumnRenamed("doc_id", "a")
                 .crossJoin(ids.withColumnRenamed("doc_id", "b"))
                 .filter(F.col("a") < F.col("b")))
    brute = {(r["a"], r["b"]) for r in
             TD.ngram_jaccard(all_pairs, docs).filter("jaccard >= 0.5").collect()}
    lsh = {(r["a"], r["b"]) for r in
           TD.minhash_near_duplicates(docs, threshold=0.5,
                                      n_hashes=16, bands=8).collect()}
    assert lsh == brute


def test_embedding_near_duplicates_exact_and_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
        (4, [0.0, 0.999, 0.02, 0.0]),   # near dup of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    exact = {(r["a"], r["b"]) for r in
             TD.embedding_near_duplicates(emb, threshold=0.99).collect()}
    assert exact == {(0, 1), (2, 4)}
    lsh = {(r["a"], r["b"]) for r in
           TD.embedding_near_duplicates(emb, threshold=0.99,
                                        bands=4, r_planes=3).collect()}
    assert lsh.issubset(exact)  # LSH may lose boundary pairs, never invent


def test_embedding_banded_lsh_recall_on_planted_near_dups(spark):
    """Banded OR-construction recall ≥0.95 on planted 0.99-cosine pairs vs
    the all-pairs baseline (the single-AND-band construction this replaces
    loses recall as planes grow; banding must not)."""
    n, dim = 120, 8
    base = spark.range(n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda d: (F.pmod(F.xxhash64("id", d), F.lit(2001)) - 1000)
            .cast("double") / 1000.0,
        ).alias("embedding"),
    )
    # planted near-dups: tiny deterministic perturbation of each base vector
    clones = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x + ((F.pmod(F.xxhash64(x.cast("string")), F.lit(21))
                            - 10).cast("double") / 2000.0),
        ).alias("embedding"),
    )
    emb = base.unionByName(clones)
    exact = {(r["a"], r["b"]) for r in TD.embedding_near_duplicates(
        emb, threshold=0.99).collect()}
    banded = {(r["a"], r["b"]) for r in TD.embedding_near_duplicates(
        emb, threshold=0.99, bands=8, r_planes=4).collect()}
    assert banded.issubset(exact)  # verify step ⇒ no false positives
    planted = {p for p in exact if p[1] - p[0] == 100000}
    recalled = planted & banded
    assert len(planted) >= 100  # the corpus really plants the pairs
    assert len(recalled) / len(planted) >= 0.95


def test_simhash_portable_matches_semantics(spark, docs):
    """Portable (md5-bit) simhash: identical text → identical bits; pair set
    behaves like the xxhash64 variant (near-dups in, disjoint docs out)."""
    bits = {r["doc_id"]: r["bits"] for r in
            TD.simhash_bits_portable(docs).collect()}
    assert bits[0] == bits[1] and len(bits[0]) == 64
    assert set(bits[0]) <= {"0", "1"}
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             TD.simhash_near_duplicates_portable(docs, max_hamming=10)
             .collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 4) not in pairs and (0, 5) not in pairs


def test_connected_components_transitive_closure(spark):
    """Chain a-b-c plus a separate pair and an isolated self-pair: labels
    must propagate transitively (c joins a's cluster without a direct
    a-c edge) and converge to the component minimum."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # path: min label needs 3 hops
         (10, 11),
         (20, 21), (21, 22), (20, 22)],   # triangle
        "a long, b long")
    out = {r["node"]: r["cluster_id"]
           for r in TD.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_cc_star_matches_label_propagation(spark):
    """Large-star/small-star must produce the same (node, cluster_id) map
    as min-label propagation on a mixed graph (path + pair + triangle)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),
         (10, 11),
         (20, 21), (21, 22), (20, 22)],
        "a long, b long")
    label = {r["node"]: r["cluster_id"]
             for r in TD.connected_components(pairs).collect()}
    star = {r["node"]: r["cluster_id"]
            for r in TD.connected_components(pairs, algo="star").collect()}
    assert star == label == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                             20: 20, 21: 20, 22: 20}


def test_cc_star_converges_on_long_path_where_label_cannot(spark):
    """Planted 120-node path: min-label propagation needs ~119 rounds, so
    with max_iters=8 it must raise (strict) rather than silently emit
    split clusters; the star contraction converges within the same budget
    (O(log n) alternations) and labels every node with the path minimum."""
    import pytest

    n = 120
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "a long, b long").coalesce(4)
    with pytest.raises(RuntimeError, match="did not reach fixpoint"):
        TD.connected_components(pairs, max_iters=8)
    # non-strict: warns and returns (possibly split) labels instead
    import warnings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        TD.connected_components(pairs, max_iters=2, strict=False).collect()
    assert any("did not reach fixpoint" in str(x.message) for x in w)
    out = {r["node"]: r["cluster_id"]
           for r in TD.connected_components(pairs, algo="star",
                                            max_iters=8).collect()}
    assert out == {i: 0 for i in range(n)}


def test_dedup_clusters_star_equals_label(spark, docs):
    pairs = TD.minhash_near_duplicates(docs, threshold=0.5, n_hashes=12,
                                       bands=6)
    a = sorted(map(tuple, TD.dedup_clusters(pairs).collect()))
    b = sorted(map(tuple, TD.dedup_clusters(pairs, algo="star").collect()))
    assert a == b


def test_dedup_clusters_canonical_per_cluster(spark, docs):
    pairs = TD.minhash_near_duplicates(docs, threshold=0.5, n_hashes=12,
                                       bands=6)
    out = TD.dedup_clusters(pairs).collect()
    by_id = {r["doc_id"]: r for r in out}
    # 0,1,2,3 are mutual near-dups -> one cluster rooted at 0
    assert {i for i in by_id} == {0, 1, 2, 3}
    assert all(by_id[i]["cluster_id"] == 0 for i in by_id)
    assert by_id[0]["is_canonical"]
    assert sum(r["is_canonical"] for r in out) == 1
    assert all(r["cluster_size"] == 4 for r in out)


# --------------------------------------------------------------------------
# exact substring dedup (Lee et al. 2022 ExactSubstr analog)
# --------------------------------------------------------------------------

_PARA = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu")                      # 12 tokens, planted duplicate
_UNIQ_A = "one two three four five six seven eight nine ten"
_UNIQ_B = "red orange yellow green blue indigo violet pink brown black"


@pytest.fixture(scope="module")
def span_docs(spark):
    rows = [
        # doc 0: unique prefix (10) + planted paragraph (12)
        (0, _UNIQ_A + " " + _PARA),
        # doc 1: planted paragraph (12) + unique suffix (10)
        (1, _PARA + " " + _UNIQ_B),
        # doc 2: fully unique, longer than k
        (2, "solar lunar stellar nebular quasar pulsar comet meteor "
            "asteroid planetoid dwarf giant"),
        # doc 3: shorter than k tokens
        (3, "tiny doc here"),
        # doc 4: WITHIN-doc repetition — the paragraph twice
        (4, _PARA + " " + _PARA),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_substring_spans_boundaries(spark, span_docs):
    out = {r["doc_id"]: r
           for r in TD.exact_substring_spans(span_docs, k=8).collect()}
    # doc 0: paragraph occupies tokens 11..22 (1-based) → span [11, 23)
    assert [(s["s"], s["e"]) for s in out[0]["spans"]] == [(11, 23)]
    assert out[0]["dup_tokens"] == 12 and out[0]["n_tokens"] == 22
    # doc 1: paragraph at the front → span [1, 13)
    assert [(s["s"], s["e"]) for s in out[1]["spans"]] == [(1, 13)]
    # doc 2: unique → no spans
    assert out[2]["n_spans"] == 0 and out[2]["dup_tokens"] == 0
    # doc 3: shorter than k → no windows, no spans
    assert out[3]["n_spans"] == 0 and out[3]["n_tokens"] == 3
    # doc 4: the ENTIRE doc is duplicated text (para appears 3x in the
    # corpus); both copies merge into one maximal span [1, 25)
    assert [(s["s"], s["e"]) for s in out[4]["spans"]] == [(1, 25)]
    assert out[4]["dup_tokens"] == 24


def test_exact_substring_spans_within_doc_only(spark):
    # duplication ONLY within one doc (no cross-doc support) still counts
    df = spark.createDataFrame(
        [(0, _PARA + " filler words here " + _PARA),
         (1, _UNIQ_A)], "doc_id int, text string")
    out = {r["doc_id"]: r
           for r in TD.exact_substring_spans(df, k=8).collect()}
    assert out[0]["n_spans"] == 2
    assert [(s["s"], s["e"]) for s in out[0]["spans"]] == [(1, 13), (16, 28)]
    assert out[1]["n_spans"] == 0


def test_exact_substring_spans_md5_matches_xxhash(spark, span_docs):
    a = TD.exact_substring_spans(span_docs, k=8, hash_fn="xxhash64")
    b = TD.exact_substring_spans(span_docs, k=8, hash_fn="md5")
    rows_a = sorted(map(tuple, a.select("doc_id", "dup_tokens",
                                        "n_spans").collect()))
    rows_b = sorted(map(tuple, b.select("doc_id", "dup_tokens",
                                        "n_spans").collect()))
    assert rows_a == rows_b


def test_remove_duplicate_spans(spark, span_docs):
    spans = TD.exact_substring_spans(span_docs, k=8)
    out = {r["doc_id"]: r["text"] for r in
           TD.remove_duplicate_spans(span_docs, spans).collect()}
    assert out[0] == _UNIQ_A          # paragraph removed, prefix survives
    assert out[1] == _UNIQ_B
    assert out[4] == ""               # fully duplicated doc → empty
    assert out[3] == "tiny doc here"  # untouched short doc


# --------------------------------------------------------------------------
# SemDeDup
# --------------------------------------------------------------------------

def test_semdedup_drops_planted_clones(spark):
    import math
    vecs = []
    for i in range(40):  # distinct directions
        a = 2 * math.pi * i / 40
        # fixed z: adjacent directions stay ~0.99 cosine, below threshold
        vecs.append((i, [math.cos(a), math.sin(a), 0.5]))
    clones = [(100 + i, vecs[i][1]) for i in range(0, 40, 10)]
    df = spark.createDataFrame(vecs + clones,
                               "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in
           TD.semdedup(df, n_centroids=8, threshold=0.999).collect()}
    assert len(out) == 44
    for i in range(0, 40, 10):       # every clone dropped, source kept
        assert out[100 + i]["is_kept"] is False
        assert out[100 + i]["dup_of"] == i
        assert out[100 + i]["max_cos"] == 1.0
        assert out[i]["is_kept"] is True
    # non-cloned vectors all kept at this threshold
    assert sum(not r["is_kept"] for r in out.values()) == 4


def test_semdedup_plan_broadcasts_codebook(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id int, embedding array<double>")
    # assignment is the one-row broadcast codebook (nested-loop of 1 row) —
    # asserted on the ivf_assign plan itself, because semdedup materializes
    # the assignment (eager localCheckpoint truncates that lineage out of
    # the downstream plan)
    from chrono_scraper_spark.operators.ann import ivf_assign, ivf_centroids

    cents = ivf_centroids(df, 4, id_col="vec_id", vec_col="embedding")
    asg_plan = ivf_assign(df, cents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in asg_plan
    assert asg_plan.count("CartesianProduct") == 0
    # the pair join is an equi-join on centroid_id, never a full cartesian
    plan = TD.semdedup(df, n_centroids=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("CartesianProduct") == 0
    assert "centroid_id" in plan


def test_dedup_keep_best_quality_rule(spark):
    # cluster {1,2,3} via pairs; 4 is a singleton. Quality: 2 wins (len 9);
    # tie between 1 and 3 at len 5 is irrelevant (2 beats both).
    docs = spark.createDataFrame(
        [(1, "aaaaa"), (2, "bbbbbbbbb"), (3, "ccccc"), (4, "dd")],
        "doc_id long, text string").withColumn(
            "quality", F.length("text"))
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    out = {r["doc_id"]: r for r in
           TD.dedup_keep_best(docs, pairs, quality_col="quality").collect()}
    assert out[2]["keep"] is True and out[2]["cluster_size"] == 3
    assert out[1]["keep"] is False and out[3]["keep"] is False
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"]
    assert out[4]["keep"] is True and out[4]["cluster_size"] == 1
    assert out[4]["cluster_id"] == 4


def test_dedup_keep_best_tie_breaks_lowest_id(spark):
    docs = spark.createDataFrame(
        [(7, "xxxx"), (5, "yyyy")], "doc_id long, text string") \
        .withColumn("quality", F.length("text"))
    pairs = spark.createDataFrame([(5, 7)], "a long, b long")
    out = {r["doc_id"]: r for r in
           TD.dedup_keep_best(docs, pairs, quality_col="quality").collect()}
    assert out[5]["keep"] is True and out[7]["keep"] is False
