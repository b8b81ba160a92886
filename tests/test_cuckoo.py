"""Cuckoo filter kernel: no false negatives at any load, bounded FPR,
deletion (the Bloom-impossible op), shard round-trips, anti-join parity."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from chrono_scraper_spark.functions.cuckoo import (
    NumpyCuckoo,
    build_cuckoo,
    build_cuckoo_partitioned,
    optimal_buckets,
    with_cuckoo_probe,
    with_cuckoo_probe_partitioned,
)
from chrono_scraper_spark.operators.dedup import cuckoo_prefilter_anti_join

_RNG = np.random.default_rng(42)


def _hashes(n, lo=0):
    """Distinct uniform int64 "key hashes" (the kernel consumes xxhash64
    output, which is uniform over the full 64-bit range — fingerprints are
    the TOP 16 bits, so sequential ints would be unrepresentative)."""
    u = (np.arange(lo, lo + n, dtype=np.uint64) * np.uint64(
        0x9E3779B97F4A7C15) + np.uint64(0xDEADBEEF))
    u ^= u >> np.uint64(31)
    u = (u * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    u ^= u >> np.uint64(27)
    return _RNG.permutation(u.astype(np.int64))


# --------------------------------------------------------------------------
# numpy kernel
# --------------------------------------------------------------------------

def test_kernel_no_false_negatives_high_load():
    n = 20_000
    h = _hashes(n)
    filt = NumpyCuckoo(optimal_buckets(n, load=0.9))  # deliberately tight
    filt.add_hashes(h)
    assert filt.might_contain_hashes(h).all()  # zero false negatives


def test_kernel_fpr_bounded():
    n = 20_000
    filt = NumpyCuckoo(optimal_buckets(n))
    filt.add_hashes(_hashes(n))
    absent = _hashes(10_000, lo=10_000_000)
    fpr = filt.might_contain_hashes(absent).mean()
    # 16-bit fp, 4 slots x 2 buckets: ~= 8/2^16 = 0.00012; allow slack
    assert fpr < 0.01


def test_kernel_delete_then_absent():
    n = 5_000
    h = _hashes(n)
    filt = NumpyCuckoo(optimal_buckets(n))
    filt.add_hashes(h)
    gone = h[: n // 2]
    ok = filt.delete_hashes(gone)
    assert ok.all()                       # every resident key deletable
    assert filt.might_contain_hashes(h[n // 2:]).all()  # others resident
    # deleted keys mostly absent (residual = fp collisions only)
    assert filt.might_contain_hashes(gone).mean() < 0.01
    # re-insert into the holes works (placement is hole-safe)
    filt.add_hashes(gone)
    assert filt.might_contain_hashes(h).all()


def test_kernel_overflow_keeps_membership_exact():
    # 3x oversubscribed table: kicks must fail, overflow must catch ALL
    h = _hashes(3_000)
    filt = NumpyCuckoo(256)  # 1024 slots for 3000 keys
    filt.add_hashes(h)
    assert len(filt.overflow) > 0
    assert filt.might_contain_hashes(h).all()  # still no false negatives
    # overflow keys are deletable too
    ov = np.array(sorted(filt.overflow), dtype=np.int64)
    assert filt.delete_hashes(ov).all()
    assert not filt.overflow


def test_kernel_serialization_round_trip():
    h = _hashes(1_000)
    filt = NumpyCuckoo(256)
    filt.add_hashes(h)
    back = NumpyCuckoo.from_bytes(filt.to_bytes())
    assert (back.table == filt.table).all()
    assert back.overflow == filt.overflow
    assert back.might_contain_hashes(h).all()


# --------------------------------------------------------------------------
# spark surface
# --------------------------------------------------------------------------

def test_spark_broadcast_probe_parity(spark):
    members = spark.range(0, 3000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"))
    absent = spark.range(100_000, 103_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"))
    filters = build_cuckoo(members, F.col("k"), 3000, n_shards=4)
    assert len(filters["shards"]) <= 4
    hit = with_cuckoo_probe(members, F.col("k"), filters, "m")
    assert hit.filter(~F.col("m")).count() == 0     # no false negatives
    fp = with_cuckoo_probe(absent, F.col("k"), filters, "m") \
        .filter("m").count()
    assert fp / 3000 < 0.01


def test_spark_partitioned_probe(spark, tmp_path):
    members = spark.range(0, 2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"))
    absent = spark.range(100_000, 102_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"))
    meta = build_cuckoo_partitioned(members, F.col("k"), str(tmp_path),
                                    2000, n_shards=4)
    hit = with_cuckoo_probe_partitioned(members, F.col("k"), meta, "m")
    assert hit.filter(~F.col("m")).count() == 0     # no false negatives
    fp = with_cuckoo_probe_partitioned(absent, F.col("k"), meta, "m") \
        .filter("m").count()
    assert fp / 2000 < 0.01


def test_cuckoo_prefilter_anti_join_exact(spark):
    cand = spark.range(0, 1000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit("20200101000000").alias("ts14"))
    seen = spark.range(0, 1000, 3).select(
        F.concat(F.lit("u"), F.col("id")).alias("url_canon"),
        F.lit("20200101000000").alias("ts14"))
    out = cuckoo_prefilter_anti_join(
        cand.withColumnRenamed("url", "url_canon"), seen, n_shards=4)
    exact = cand.withColumnRenamed("url", "url_canon").join(
        seen, ["url_canon", "ts14"], "left_anti")
    assert sorted(r.url_canon for r in out.collect()) == \
        sorted(r.url_canon for r in exact.collect())
