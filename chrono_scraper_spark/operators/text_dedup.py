"""Document deduplication family for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash (64-bit, md5-bit portable), n-gram Jaccard verification, and
embedding-cosine near-dup. Engine additions beyond the reference's
digest-level dedup (SURVEY §2.3) — the ops a 100 TB corpus needs before
training.

Scale design:
- Exact dedup is one hash aggregation on the fingerprint (map-side partial).
- MinHash-LSH avoids the O(n²) pair space: only documents sharing a band
  bucket are joined. Bucket join keys are (band_idx, band_hash) — the
  shuffle is proportional to candidate pairs, not n². Mega-buckets (boiler-
  plate text) are handled by AQE skew-join splitting.
- SimHash is 64 aggregate expressions over exploded tokens (no UDF); pair
  candidates come from chunk buckets (pigeonhole: hamming ≤ 3 ⇒ some chunk
  equal).
- Embedding near-dup mirrors MinHash: random-hyperplane LSH buckets, then
  exact cosine on candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textops import fingerprint, minhash_signature, shingles, tokens

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup over the normalized-text fingerprint.
    Output: one row per document with its duplicate group, group size, and
    ``is_canonical`` (the min id of the group survives)."""
    # (id, 32-char hash) — materialize so the group agg and the group
    # join share one normalize+md5 pass over the corpus instead of two
    fp = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp")) \
        .localCheckpoint(eager=True)
    groups = fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(id_col).alias("canonical_id"),
    )
    return (fp.join(groups, "fp")
            .select(id_col, F.col("fp").alias("fingerprint"), "group_size",
                    "canonical_id",
                    (F.col(id_col) == F.col("canonical_id")).alias("is_canonical")))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_bands(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3, n_hashes: int = 12,
                  bands: int = 4) -> DataFrame:
    """(id, band_idx, band_hash): md5 over each band's minhash slice."""
    assert n_hashes % bands == 0
    rows_per_band = n_hashes // bands
    sig = docs.select(
        F.col(id_col),
        minhash_signature(tokens(F.col(text_col)), k, n_hashes).alias("sig"),
    ).filter(F.size("sig") > 0)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx")
    banded = sig.select(F.col(id_col), "sig", band_idx)
    return banded.select(
        id_col, "band_idx",
        F.md5(F.concat_ws(
            "|", F.slice(F.col("sig"),
                         F.col("band_idx") * rows_per_band + 1, rows_per_band)
        )).alias("band_hash"),
    )


def lsh_candidate_pairs(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Self-join band buckets → distinct candidate (a, b) pairs, a < b.
    The join key (band_idx, band_hash) keeps the shuffle proportional to
    bucket sizes; AQE splits skewed buckets."""
    left = banded.select(F.col(id_col).alias("a"), "band_idx", "band_hash")
    right = banded.select(F.col(id_col).alias("b"), "band_idx", "band_hash")
    return (left.join(right, ["band_idx", "band_hash"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def ngram_jaccard(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """Exact word-k-gram Jaccard for candidate pairs: |A∩B| / |A∪B| over
    distinct shingle sets. Two broadcast-or-shuffle joins against the
    (id → shingle set) projection; set ops are array expressions.

    Scale shape: the pair list is materialized once (eager localCheckpoint
    — it feeds the id semi-join AND the scoring joins; lazily it would
    re-run its candidate-generation subtree per reference), and shingles
    are computed ONLY for docs that appear in some candidate pair (semi-
    join restriction) then materialized once — shingle work and storage
    are ∝ candidates, not corpus, and the corpus is never tokenized on
    both sides of the verify join."""
    pairs = pairs.localCheckpoint(eager=True)
    ids = (pairs.select(F.col("a").alias(id_col))
           .union(pairs.select(F.col("b").alias(id_col))).distinct())
    sh = (docs.join(ids, id_col, "leftsemi")
          .select(
              F.col(id_col),
              F.array_distinct(shingles(tokens(F.col(text_col)), k)).alias("sh"))
          .localCheckpoint(eager=True))
    j = (pairs
         .join(sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")), "a")
         .join(sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")), "b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "a", "b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def minhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 3,
                            n_hashes: int = 12, bands: int = 4,
                            threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → band buckets → candidate
    pairs → exact Jaccard verify ≥ threshold. False positives from banding
    are killed by the verify step; recall is the standard LSH S-curve
    1-(1-s^r)^b."""
    banded = minhash_bands(docs, id_col, text_col, k, n_hashes, bands) \
        .localCheckpoint(eager=True)  # one shingle+minhash pass, not one per join side
    cands = lsh_candidate_pairs(banded, id_col)
    scored = ngram_jaccard(cands, docs, id_col, text_col, k)
    return scored.filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash (64-bit, md5-bit portable, no UDF)
# --------------------------------------------------------------------------

def simhash_bits_portable(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """64-bit SimHash as a '0'/'1' bit STRING, hash family derived from md5
    hex digits (bit b of a token = bit (b%4) of hex digit b//4) — portable:
    the identical construction runs in the DuckDB oracle
    (oracle_gen.simhash_sum_exprs_sql), so pair output is value-checkable.
    Shape: explode → 64 aggregates → sign vector; one shuffle (the
    groupBy id)."""
    tok = docs.select(F.col(id_col),
                      F.explode(tokens(F.col(text_col))).alias("tok"))
    hx = F.md5("tok")
    aggs = []
    for b in range(64):
        hd = F.conv(F.substring(hx, b // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(hd, b % 4).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)))
                    .alias(f"b{b}"))
    sums = tok.groupBy(id_col).agg(*aggs)
    chars = [F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
             for b in range(64)]
    return sums.select(F.col(id_col), F.concat(*chars).alias("bits"))


def _bits_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit strings."""
    return F.aggregate(
        F.sequence(F.lit(1), F.length(a)), F.lit(0),
        lambda acc, i: acc + F.when(
            F.substring(a, i, F.lit(1)) != F.substring(b, i, F.lit(1)),
            F.lit(1)).otherwise(F.lit(0)),
    )


def simhash_near_duplicates_portable(docs: DataFrame, id_col: str = "doc_id",
                                     text_col: str = "text",
                                     max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming over the
    portable md5-derived bits. Candidates from 16-bit chunk equality
    (pigeonhole: ≤3 differing bits ⇒ at least one of 4 chunks identical),
    then hamming verify on the bit strings."""
    sim = simhash_bits_portable(docs, id_col, text_col)
    chunks = sim.select(
        F.col(id_col), "bits",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_idx"),
                     F.substring("bits", 1 + 16 * i, 16).alias("chunk"))
            for i in range(4)
        ])).alias("c"),
    ).select(id_col, "bits", "c.chunk_idx", "c.chunk")
    left = chunks.select(F.col(id_col).alias("a"),
                         F.col("bits").alias("bits_a"), "chunk_idx", "chunk")
    right = chunks.select(F.col(id_col).alias("b"),
                          F.col("bits").alias("bits_b"), "chunk_idx", "chunk")
    cands = (left.join(right, ["chunk_idx", "chunk"])
             .filter(F.col("a") < F.col("b"))
             .select("a", "b", "bits_a", "bits_b").distinct())
    return (cands
            .withColumn("hamming",
                        _bits_hamming(F.col("bits_a"), F.col("bits_b"))
                        .cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _hyperplane_sig(vec: Column, band: int, r_planes: int, seed: int) -> Column:
    """Sign bit-string of ``vec`` against ``r_planes`` deterministic
    (xxhash64-derived) hyperplanes for one band — no RNG state shipped."""
    dim = F.size(vec)
    return F.concat_ws("", F.transform(
        F.sequence(F.lit(0), F.lit(r_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.transform(
                        F.sequence(F.lit(1), dim),
                        lambda d: (F.pmod(
                            F.xxhash64(
                                (F.lit(band) * F.lit(1009) + p)
                                * F.lit(100003) + d,
                                F.lit(seed)),
                            F.lit(2001)) - 1000).cast("double") / 1000.0,
                    ),
                    lambda x, rnd: x * rnd,
                ),
                F.lit(0.0), lambda acc, v: acc + v,
            ) >= 0, F.lit("1")).otherwise(F.lit("0")),
    ))


def embedding_near_duplicates(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, bands: int = 0, r_planes: int = 4, seed: int = 7,
) -> DataFrame:
    """Cosine-similarity near-dup pairs over an embedding column.

    ``bands == 0`` → exact all-pairs (the verification baseline; O(n²) —
    only for small n). ``bands > 0`` → BANDED random-hyperplane LSH, the
    same OR-of-ANDs construction as MinHash banding: each band hashes the
    vector against ``r_planes`` independent hyperplanes; two vectors become
    candidates when they agree on ALL planes of AT LEAST ONE band (candidate
    union across bands), then exact cosine verifies every candidate, so the
    output is exact wherever a pair is recalled. Recall follows the LSH
    S-curve 1-(1-p^r)^b with p = 1 - θ/π — multiple bands avoid the
    single-AND-band recall cliff. Shuffle volume ∝ bucket collisions
    (bands × n rows keyed by (band, sig)), never n². The cosine is
    unrounded (see ``ann.cosine_topk_bruteforce``).
    """
    vecs = emb.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
    if bands > 0:
        banded = vecs.select(
            "__id", "__v",
            F.explode(F.array(*[
                F.struct(F.lit(bd).alias("band_idx"),
                         _hyperplane_sig(F.col("__v"), bd, r_planes, seed)
                         .alias("sig"))
                for bd in range(bands)
            ])).alias("bs"),
        ).select("__id", "__v", "bs.band_idx", "bs.sig")
        left = banded.select(F.col("__id").alias("a"),
                             F.col("__v").alias("va"), "band_idx", "sig")
        right = banded.select(F.col("__id").alias("b"),
                              F.col("__v").alias("vb"), "band_idx", "sig")
        pairs = (left.join(right, ["band_idx", "sig"])
                 .filter(F.col("a") < F.col("b"))
                 .select("a", "b", "va", "vb").distinct())
    else:
        left = vecs.select(F.col("__id").alias("a"), F.col("__v").alias("va"))
        right = vecs.select(F.col("__id").alias("b"), F.col("__v").alias("vb"))
        pairs = left.crossJoin(right).filter(F.col("a") < F.col("b"))
    return (pairs.withColumn("cosine", cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


# --------------------------------------------------------------------------
# near-dup cluster resolution (connected components over candidate pairs)
# --------------------------------------------------------------------------

def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b",
                         max_iters: int = 25,
                         algo: str = "label",
                         strict: bool = True) -> DataFrame:
    """Connected components over an undirected edge list via min-label
    propagation: every node starts labeled with its own id; each round a
    node takes ``min(own label, labels of neighbors)``; fixpoint = the
    component minimum. Output: ``(node, cluster_id)`` for every endpoint.

    This is the step the reference's digest-level dedup never needs but a
    near-dup pipeline always does: MinHash/SimHash/embedding LSH emit
    PAIRS, and transitive closure turns pairs into clusters so exactly one
    canonical document per cluster survives (the reference keeps min-id per
    digest group, `backend/app/services/wayback_machine.py` digest collapse;
    this generalizes that tie-break to transitive similarity groups).

    Scale design: label propagation converges in O(component diameter)
    rounds, and near-dup graphs are clique-dense (band-bucket pairs), so
    2-4 rounds dominate in practice. Each round is one shuffle (join on
    edge endpoint) + one hash agg (min per node); labels only decrease, so
    the fixpoint test ``changed == 0`` is a driver scalar, not row data.
    ``localCheckpoint`` truncates the iterative lineage each round (same
    discipline as ``operators/graph.py`` PageRank). For adversarial
    long-path graphs pass ``algo="star"``: the O(log n)-round
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) converges on a
    1000-node path in ~10 alternations where min-label propagation would
    need 1000 rounds. Diameter-bounded propagation remains the default —
    the right trade for clique-dense dedup graphs.

    ``strict=True`` (default) raises ``RuntimeError`` if the fixpoint is
    not reached within ``max_iters`` — unconverged labels are silently
    WRONG (a chain component splits into several clusters), so the caller
    must opt in to best-effort output with ``strict=False`` (which logs a
    warning instead).
    """
    if algo == "star":
        return _cc_star(pairs, a_col, b_col, max_iters, strict)
    if algo != "label":
        raise ValueError(f"unknown connected-components algo: {algo!r}")
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    sym = (edges.unionByName(edges.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")))
           .distinct().cache())
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("cluster_id", F.col("node")))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr_min = (sym.join(labels.select(F.col("node").alias("dst"),
                                          F.col("cluster_id")
                                          .alias("dst_label")), "dst")
                   .groupBy("src").agg(F.min("dst_label").alias("nbr_min")))
        new_labels = (labels.join(nbr_min.withColumnRenamed("src", "node"),
                                  "node", "left")
                      .select("node",
                              F.least(F.col("cluster_id"),
                                      F.coalesce(F.col("nbr_min"),
                                                 F.col("cluster_id")))
                              .alias("cluster_id")))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                   .count())  # driver scalar (convergence test), not row data
        labels = new_labels
        if changed == 0:
            break
    else:
        sym.unpersist()
        _nonconverged("min-label propagation", max_iters, strict)
    sym.unpersist()
    return labels


def _nonconverged(what: str, max_iters: int, strict: bool) -> None:
    msg = (f"connected_components: {what} did not reach fixpoint within "
           f"{max_iters} iterations — labels would be WRONG (a component "
           f"with diameter > {max_iters} splits into several clusters). "
           f"Use algo='star' (O(log n) rounds) for long-path graphs, or "
           f"raise max_iters.")
    if strict:
        raise RuntimeError(msg)
    import warnings
    warnings.warn(msg, RuntimeWarning, stacklevel=3)


def _cc_star(pairs: DataFrame, a_col: str, b_col: str,
             max_iters: int, strict: bool) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014).

    State is an undirected edge set kept as canonical ``(lo, hi)`` pairs.
    Each alternation:

    * **large-star**: for every node ``u`` with neighborhood Γ(u), link
      each *strictly larger* neighbor ``v > u`` to
      ``m = min(Γ(u) ∪ {u})`` — one shuffle (groupBy u for m) + one join.
    * **small-star**: link each neighbor ``v ≤ u`` (and u itself) to m.

    Both steps strictly decrease a monotone potential, converging in
    O(log n) alternations to star graphs centered at each component's
    minimum id — the published bound that survives adversarial long-path
    graphs where label propagation needs O(diameter) rounds. Each round's
    edge set is ``localCheckpoint``-truncated; the convergence test is a
    driver scalar (symmetric-difference count), not row data.

    Output matches ``algo="label"``: ``(node, cluster_id)`` for every
    endpoint, ``cluster_id`` = component minimum.
    """
    # canonical undirected edges (lo, hi), self-loops dropped
    cur = (pairs.select(F.least(F.col(a_col), F.col(b_col)).alias("lo"),
                        F.greatest(F.col(a_col), F.col(b_col)).alias("hi"))
           .filter(F.col("lo") != F.col("hi"))
           .distinct().localCheckpoint(eager=True))
    # every input endpoint, so isolated-after-contraction nodes keep a label
    nodes = (pairs.select(F.col(a_col).alias("node"))
             .unionByName(pairs.select(F.col(b_col).alias("node")))
             .distinct().localCheckpoint(eager=True))

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        sym = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")) \
            .unionByName(edges.select(F.col("hi").alias("u"),
                                      F.col("lo").alias("v")))
        mins = (sym.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        nbrs = sym.filter(F.col("v") > F.col("u")) if large \
            else sym.filter(F.col("v") <= F.col("u"))
        out = (nbrs.join(mins, "u")
               .select(F.least("v", "m").alias("lo"),
                       F.greatest("v", "m").alias("hi")))
        # small-star also re-links u itself to m (keeps u in the edge set)
        if not large:
            out = out.unionByName(
                mins.select(F.least("u", "m").alias("lo"),
                            F.greatest("u", "m").alias("hi")))
        return (out.filter(F.col("lo") != F.col("hi")).distinct()
                .localCheckpoint(eager=True))

    converged = False
    for _ in range(max_iters):
        nxt = _star(_star(cur, large=True), large=False)
        # driver scalar: symmetric difference empty <=> fixpoint
        changed = (nxt.exceptAll(cur).count()
                   + cur.exceptAll(nxt).count())
        cur = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        _nonconverged("large-star/small-star contraction", max_iters, strict)
    # fixpoint edges are (center=lo, member=hi); centers label themselves,
    # as do nodes whose component contracted away entirely (singletons)
    member = cur.select(F.col("hi").alias("node"),
                        F.col("lo").alias("cluster_id"))
    return (nodes.join(member, "node", "left")
            .select("node", F.coalesce("cluster_id", "node")
                    .alias("cluster_id")))


def dedup_clusters(pairs: DataFrame, a_col: str = "a",
                   b_col: str = "b", algo: str = "label") -> DataFrame:
    """Resolve near-dup candidate pairs into canonical clusters:
    ``(doc_id, cluster_id, cluster_size, is_canonical)`` where cluster_id
    is the component-minimum doc id (the survivor). Cluster-size window
    partitions by cluster_id — components are small by construction, so
    no single window partition can grow pathological."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs, a_col, b_col, algo=algo)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"))


# --------------------------------------------------------------------------
# exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr variant)
# --------------------------------------------------------------------------

def exact_substring_spans(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 20,
                          min_count: int = 2,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """Detect maximal duplicated token runs of length ≥ ``k`` anywhere in
    the corpus (across documents AND within one document), the
    training-data hygiene step of Lee et al. 2022 §4.1. Their suffix-array
    construction is a single-machine algorithm; the distributed analog is
    fixed-``k`` rolling window hashes + island merge, which recovers every
    maximal duplicated run of length ≥ k exactly (a run of length L ≥ k
    duplicated elsewhere makes all L-k+1 of its windows duplicated; the
    merge glues them back into [start, start+L)).

    Plan shape (linear at any scale — no pair space):
      1. one projection builds each doc's window-hash array (codegen
         ``transform`` over ``sequence``, hash of ``concat_ws`` over
         ``slice`` — no UDF) and explodes it;
      2. one hash aggregation (map-side partial) counts occurrences per
         hash; hashes with count ≥ ``min_count`` form the dup set;
      3. one join grams ⋈ dup-set (AQE picks broadcast when the dup set
         is small, shuffle otherwise — never the corpus²);
      4. one aggregation per doc sorts hit positions and a codegen
         ``aggregate`` sweep merges overlapping/adjacent windows into
         spans (same zero-window island pattern as interval_merge).

    Output: one row per input doc —
      (id, n_tokens, spans array<struct<s,e>>, dup_tokens, n_spans) with
    1-based token start ``s``, exclusive end ``e``.

    ``hash_fn="md5"`` gives a cross-engine-stable hash for oracle parity;
    xxhash64 (default) is the cheap production path. Collisions only
    over-mark (a false duplicate window), never miss.
    """
    hasher = {"xxhash64": F.xxhash64, "md5": F.md5}[hash_fn]
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("tk"))
    n = F.size("tk")
    gram = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: hasher(F.concat_ws(" ", F.slice(F.col("tk"), i, k))))
    empty = F.array().cast(
        "array<long>" if hash_fn == "xxhash64" else "array<string>")
    # One O(n·k) hashing pass over the corpus, materialized: the gram
    # table feeds BOTH the duplicate-count aggregation and the hits join
    # (and n_tokens feeds the base projection) — lazily, each reference
    # would re-tokenize and re-hash the whole corpus.
    grams = toks.select(
        F.col(id_col), n.alias("n_tokens"),
        F.when(n >= k, gram).otherwise(empty).alias("ghs")) \
        .localCheckpoint(eager=True)
    g = grams.select(
        id_col, "n_tokens",
        F.posexplode("ghs").alias("pos0", "h"))
    dup = (g.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_count).select("h"))
    hits = g.join(dup, "h")
    per = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("ps"))

    span_t = "array<struct<s:int,e:int>>"
    acc0 = F.struct(
        F.array().cast(span_t).alias("sp"),
        F.lit(-1).alias("cs"), F.lit(-1).alias("ce"))
    kk = F.lit(k)

    def _step(a: Column, p: Column) -> Column:
        open_new = F.struct(
            F.concat(a.sp, F.when(a.cs >= 0, F.array(F.struct(
                a.cs.alias("s"), a.ce.alias("e"))))
                .otherwise(F.array().cast(span_t))).alias("sp"),
            p.alias("cs"), (p + kk).alias("ce"))
        extend = F.struct(a.sp.alias("sp"), a.cs.alias("cs"),
                          (p + kk).alias("ce"))
        return F.when((a.cs >= 0) & (p <= a.ce), extend).otherwise(open_new)

    merged = F.aggregate(
        "ps", acc0, _step,
        lambda a: F.when(a.cs >= 0, F.concat(a.sp, F.array(F.struct(
            a.cs.alias("s"), a.ce.alias("e"))))).otherwise(a.sp))
    per = per.select(id_col, merged.alias("spans"))

    base = grams.select(F.col(id_col), "n_tokens")
    out = base.join(per, id_col, "left")
    spans = F.coalesce("spans", F.array().cast(span_t))
    return out.select(
        id_col, "n_tokens", spans.alias("spans"),
        F.aggregate(spans, F.lit(0),
                    lambda a, s: a + (s.e - s.s)).alias("dup_tokens"),
        F.size(spans).alias("n_spans"))


def remove_duplicate_spans(docs: DataFrame, spans: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Drop every token covered by a duplicated span (the removal step of
    ExactSubstr dedup). Token-level reconstruction: output ``text`` is the
    surviving tokens joined by single spaces — original whitespace and
    punctuation between tokens are not preserved (inherent to token-level
    dedup; Lee et al. operate on the token stream too). One broadcast-or-
    shuffle join + one codegen projection; the per-token span test is
    linear in practice because spans per doc are few and sorted."""
    sp = spans.select(F.col(id_col), "spans")
    joined = docs.join(sp, id_col, "left")
    tk = tokens(F.col(text_col))
    covered = lambda i: F.exists(  # noqa: E731 — named for readability
        F.coalesce(F.col("spans"),
                   F.array().cast("array<struct<s:int,e:int>>")),
        lambda s: (i + 1 >= s.s) & (i + 1 < s.e))
    kept = F.filter(F.transform(tk, lambda t, i: F.struct(
        t.alias("t"), covered(i).alias("c"))), lambda x: ~x.c)
    return joined.select(
        id_col,
        F.concat_ws(" ", F.transform(kept, lambda x: x.t)).alias("text"))


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
# --------------------------------------------------------------------------

def semdedup(corpus: DataFrame, n_centroids: int = 16,
             threshold: float = 0.95, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Semantic dedup over an embedding column: cluster with a deterministic
    coarse codebook, then within each cluster drop every vector that is
    ≥ ``threshold`` cosine-similar to a lower-id vector (keep-first-by-id).

    SemDeDup's published recipe is k-means clusters + within-cluster
    pairwise cosine with a sequential keep rule (lowest centroid
    similarity). Two disclosed deviations keep the op deterministic and
    relational: (1) clusters come from the IVF-style seed codebook (corpus
    points in md5 order — portable to the DuckDB oracle, unlike xxhash64);
    (2) the representative of a duplicate group is the smallest id — the
    same canonical-min convention as ``exact_duplicates``.

    Scale shape: codebook selection is TakeOrdered (n rows to the driver);
    assignment is the zero-shuffle broadcast-codebook argmax
    (``ann.ivf_assign``); the only corpus shuffle is the self-join on
    ``centroid_id``, whose cost is Σ c_k² — SemDeDup's own cost model.
    At 10^9 docs, scale ``n_centroids`` ∝ N (the paper uses 11k clusters
    for 100M) so clusters stay bounded; AQE splits residual skew.

    Output: one row per input vector — ``centroid_id``, ``is_kept``,
    ``dup_of`` (smallest lower-id duplicate, null when kept), ``max_cos``
    (rounded; null when no duplicate edge).
    """
    from .ann import ivf_assign  # local import: ann already imports us

    v = F.col(vec_col).cast("array<double>")
    seeds = (corpus
             .select(F.col(id_col).alias("_seed_id"), v.alias("centroid_vec"))
             .orderBy(F.md5(F.col("_seed_id").cast("string")),
                      F.col("_seed_id"))
             .limit(n_centroids))
    w = Window.orderBy(F.md5(F.col("_seed_id").cast("string")),
                       F.col("_seed_id"))
    cents = (seeds.withColumn("centroid_id", F.row_number().over(w))
             .select("centroid_id", "centroid_vec"))

    asg = ivf_assign(corpus.select(F.col(id_col), v.alias("_v")),
                     cents, n_probe=1, id_col=id_col, vec_col="_v") \
        .localCheckpoint(eager=True)  # assignment runs once — it feeds
    # both self-join sides and the final keep projection (lazily: three
    # full corpus-embedding argmax passes)
    lhs = asg.select(F.col(id_col).alias("_a"), F.col("_v").alias("_av"),
                     "centroid_id")
    rhs = asg.select(F.col(id_col).alias("_b"), F.col("_v").alias("_bv"),
                     "centroid_id")
    pairs = (lhs.join(rhs, "centroid_id")
             .filter(F.col("_a") < F.col("_b"))
             .withColumn("_cos", F.round(cosine(F.col("_av"),
                                                F.col("_bv")), 6))
             .filter(F.col("_cos") >= threshold))
    dups = pairs.groupBy(F.col("_b").alias(id_col)).agg(
        F.min("_a").alias("dup_of"), F.max("_cos").alias("max_cos"))
    return (asg.select(id_col, "centroid_id")
            .join(dups, id_col, "left")
            .select(id_col, "centroid_id",
                    F.col("dup_of").isNull().alias("is_kept"),
                    "dup_of", "max_cos"))


# --------------------------------------------------------------------------
# cluster-representative selection (the keep step after near-dup clustering)
# --------------------------------------------------------------------------

def dedup_keep_best(docs: DataFrame, pairs: DataFrame,
                    quality_col: str = "quality", id_col: str = "doc_id",
                    algo: str = "label") -> DataFrame:
    """Quality-aware representative selection: after near-dup clustering,
    keep — per transitive similarity cluster — the highest-``quality_col``
    doc (ties → lowest id), not the min-id doc that ``dedup_clusters``
    canonicalizes. This is the keep rule production dedup actually runs
    (e.g. keep the longest / highest-scoring page of a boilerplate clone
    family); docs that appear in no candidate pair survive as singleton
    keeps.

    Scale shape: components come from ``connected_components`` (bounded
    rounds); the docs⋈components join is on the id — components cover
    only the near-dup minority of the corpus, so AQE typically broadcasts
    the component side; the keep window partitions by cluster_id and
    clusters are small by construction (no mega-partition window).

    Output: one row per doc — ``cluster_id``, ``cluster_size``, ``keep``.
    """
    comp = connected_components(pairs, a_col="a", b_col="b", algo=algo) \
        .withColumnRenamed("node", id_col)
    j = (docs.select(F.col(id_col), F.col(quality_col).alias("_q"))
         .join(comp, id_col, "left")
         .select(id_col, "_q",
                 F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")))
    w = Window.partitionBy("cluster_id")
    rank = F.row_number().over(
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("_q"), F.asc(id_col)))
    return j.select(
        id_col, "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (rank == 1).alias("keep"))
