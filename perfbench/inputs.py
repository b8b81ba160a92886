"""Seeded input generation for the benchmark workloads.

The seed controls everything the program is handed: the corpus file layout
(which captures land in which parquet file, and in what order), the arrival
batches of the rounds workload and the share of earlier captures each batch
re-presents, the search request stream, and the star-schema tables the
headline queries read. Page content itself comes from the package's own
deterministic generator (``corpus.generate_pages``), whose ground-truth
``text`` column is what the extraction check compares against.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import _VOCAB, generate_pages

SEEDS_SCHEMA = ("project_id int, domain_name string, match_type string, "
                "url_path string, from_date date, to_date date")


def seed_list(spark: SparkSession) -> DataFrame:
    """One regex seed matching every generated URL."""
    return spark.createDataFrame(
        [(1, r"https://.*", "regex", None, None, None)], SEEDS_SCHEMA)


def _layout_key(seed: int, *salt: str) -> F.Column:
    return F.xxhash64(F.col("url"), F.col("warc_ts"), F.lit(seed),
                      *[F.lit(s) for s in salt])


def write_corpus(spark: SparkSession, path: str, n_docs: int, *,
                 words_scale: int, n_files: int, seed: int) -> int:
    """Generate ``n_docs`` documents (1-3 captures each) and write them as
    ``n_files`` parquet files whose row-to-file assignment and row order
    are a function of ``seed``. Returns the capture count."""
    pages = generate_pages(spark, n_docs, words_scale=words_scale,
                           partitions=n_files)
    key = _layout_key(seed, "layout")
    (pages.withColumn("__k", key)
     .repartition(n_files, F.pmod(F.col("__k"), F.lit(n_files)))
     .sortWithinPartitions("__k")
     .drop("__k")
     .write.mode("overwrite").parquet(path))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def sample_corpus(src: str, dst: str) -> None:
    """A small corpus of the same shape: the first parquet file of
    ``src``, copied."""
    os.makedirs(dst)
    first = parquet_files(src)[0]
    shutil.copyfile(first, os.path.join(dst, os.path.basename(first)))


def write_arrivals(spark: SparkSession, pool_path: str, out_dir: str, *,
                   n_batches: int, overlap_pct: int, seed: int) -> list[str]:
    """Split the capture pool into ``n_batches`` seeded arrival batches.

    Every capture arrives in its seeded home batch; ``overlap_pct`` percent
    of the captures homed before the last batch arrive again in one seeded
    later batch — the reference's ``overlap_days`` re-read of a window it
    already crawled. Returns one parquet directory per batch, in arrival
    order."""
    pool = spark.read.parquet(pool_path)
    home = F.pmod(_layout_key(seed, "batch"), F.lit(n_batches))
    later = n_batches - 1 - home
    again = home + 1 + F.pmod(_layout_key(seed, "again"),
                              F.greatest(later, F.lit(1)))
    reread = ((F.pmod(_layout_key(seed, "overlap"), F.lit(100)) < overlap_pct)
              & (later > 0))
    batches = (F.when(reread, F.array(home, again)).otherwise(F.array(home))
               .cast("array<int>"))
    (pool.withColumn("batch", F.explode(batches))
     .repartition(n_batches, "batch")
     .sortWithinPartitions("batch", _layout_key(seed, "order"))
     .write.mode("overwrite").partitionBy("batch").parquet(out_dir))
    return [os.path.join(out_dir, f"batch={b}") for b in range(n_batches)]


@dataclass(frozen=True)
class Request:
    kind: str          # "search" | "facets" | "snippets"
    query: str
    offset: int = 0


# request kinds cycle through a fixed pattern, so every seed sends the same
# mix; the seed picks the terms
_KINDS = ("search", "search_offset", "search", "facets", "search",
          "snippets", "search", "search_offset")


def request_stream(seed: int, n: int) -> list[Request]:
    """A closed-loop client's request mix: mostly ranked searches of 1-4
    vocabulary terms drawn Zipf(1.2) over a seeded ranking of the
    vocabulary, a third of them with an offset, and a minority of facet
    and snippet requests."""
    rng = np.random.default_rng(seed)
    vocab = list(_VOCAB)
    rng.shuffle(vocab)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.2
    p /= p.sum()
    out = []
    for i in range(n):
        k = int(rng.integers(1, 5))
        terms = rng.choice(len(vocab), size=k, replace=False, p=p)
        q = " ".join(vocab[t] for t in terms)
        kind = _KINDS[i % len(_KINDS)]
        if kind == "search_offset":
            out.append(Request("search", q, offset=int(rng.integers(1, 4)) * 10))
        else:
            out.append(Request(kind, q))
    return out


# ---------------------------------------------------------------------------
# star-schema tables for the headline queries (same columns and types as the
# sf test tables of TESTDATA.md; sizes scale with ``docs``)
# ---------------------------------------------------------------------------
_DOC_WORDS = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
              "value", "part", "hash", "merge", "batch", "spark", "line",
              "sort", "window", "data", "column", "join", "small", "big",
              "customer", "query", "order", "group", "filter", "stream",
              "vector"]


def write_star_tables(out_dir: str, seed: int, docs: int = 500) -> None:
    """Seeded ``documents``, ``embeddings``, ``events`` and ``lineitem``
    parquet files (one file, one row group each) under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_words = rng.integers(8, 90, size=docs)
    texts = [" ".join(rng.choice(_DOC_WORDS, size=int(k))) for k in n_words]
    # a few exact duplicates so the dedup queries have work to do
    for i in range(0, docs, 23):
        if i + 1 < docs:
            texts[i + 1] = texts[i]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], size=docs,
                       p=[0.44, 0.14, 0.14, 0.13, 0.15])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    n_vec = docs
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vec), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

    n_ev = docs * 20
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_ev))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], size=n_ev),
            pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_ev), 2)
                          + 0.01, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, size=n_ev)], pa.string()),
    }), os.path.join(out_dir, "events.parquet"))

    n_li = docs * 120
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    ship = (np.datetime64("1995-01-01", "us")
            + rng.integers(0, 2500, size=n_li).astype("timedelta64[D]"))
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, docs * 30, size=n_li),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, docs * 4, size=n_li),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, size=n_li), 2),
            pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0,
                          pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_li),
                                 pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))
