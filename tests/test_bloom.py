"""Bloom filter unit + distributed-build tests."""

from __future__ import annotations

import numpy as np

from roddy_spark.operators.dedup import Bloom, ShardedBloom


def test_bloom_no_false_negatives_low_fp():
    rng = np.random.default_rng(42)
    added = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    b = Bloom(capacity=20_000, fpp=0.01)
    b.add(added)
    assert b.might_contain(added).all()           # zero false negatives
    fp = b.might_contain(other).mean()
    assert fp < 0.03, f"false-positive rate {fp}"


def test_bloom_delta_merge():
    a = Bloom(1000, 0.01)
    b = Bloom(1000, 0.01)
    xs = np.arange(100, dtype=np.int64)
    ys = np.arange(100, 200, dtype=np.int64)
    a.add(xs)
    b.add(ys)
    a.merge(b)
    assert a.might_contain(xs).all() and a.might_contain(ys).all()


def test_sharded_bloom():
    sb = ShardedBloom(capacity=10_000, fpp=0.01, n_shards=4)
    xs = np.random.default_rng(1).integers(-(2**62), 2**62, size=5_000,
                                           dtype=np.int64)
    sb.add(xs)
    assert sb.might_contain(xs).all()


def test_sharded_bloom_non_power_of_two_negative_hashes(spark):
    """Regression (ADVICE r2): the distributed build shards by Spark
    pmod(hash, n) while lookup sharded by uint64 % n — for negative hashes
    and a non-power-of-two shard count these disagree, so ~half the built
    keys looked up in the WRONG shard (bloom false negatives → visited URLs
    silently re-admitted). Lookup must use signed floor-mod."""
    from pyspark.sql import functions as F

    from roddy_spark.operators.dedup import sharded_bloom_from_hashes_df

    df = spark.range(0, 4000).select(F.xxhash64("id").alias("url_hash"))
    hashes = np.array([r[0] for r in df.collect()], dtype=np.int64)
    assert (hashes < 0).any(), "fixture must include negative hashes"
    for n_shards in (3, 7, 10):
        built = sharded_bloom_from_hashes_df(df, capacity=1 << 13, fpp=0.01,
                                             n_shards=n_shards)
        misses = ~built.might_contain(hashes)
        assert not misses.any(), (
            f"{misses.sum()} bloom false negatives with {n_shards} shards")
        # local add must route identically to the distributed build
        local = ShardedBloom(capacity=1 << 13, fpp=0.01, n_shards=n_shards)
        local.add(hashes)
        assert local.might_contain(hashes).all()


def test_shard_sizing_constant_driver_memory_at_1e9():
    """Shard count derives from capacity so each shard bitmap stays under
    the byte budget — at 10^9 keys / 1% fpp (~1.2 GiB total) the build and
    every delta merge touch ≤128 MiB at a time (VERDICT r1 item 4)."""
    n = ShardedBloom.shards_for(10**9, 0.01)
    assert n >= 8, n
    per_shard_bytes = Bloom(10**9 // n, 0.01).m // 8
    assert per_shard_bytes <= ShardedBloom.DEFAULT_MAX_SHARD_BYTES
    # small capacities stay single-shard (no pointless splitting)
    assert ShardedBloom.shards_for(1 << 20, 0.01) == 1


def test_sharded_distributed_build_and_delta_merge(spark):
    """sharded_bloom_from_hashes_df == local ShardedBloom membership, and
    shard-wise delta merge unions batches (the crawl loop's per-micro-batch
    path with a forced multi-shard layout)."""
    from pyspark.sql import functions as F

    from roddy_spark.operators.dedup import sharded_bloom_from_hashes_df

    df1 = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    df2 = spark.range(5000, 9000).select(F.xxhash64("id").alias("url_hash"))
    built = sharded_bloom_from_hashes_df(df1, capacity=1 << 14, fpp=0.01,
                                         max_shard_bytes=1 << 10)
    assert built.n_shards > 1, "test must exercise the multi-shard path"
    delta = sharded_bloom_from_hashes_df(df2, capacity=1 << 14, fpp=0.01,
                                         n_shards=built.n_shards)
    built.merge(delta)
    h1 = np.array([r[0] for r in df1.collect()], dtype=np.int64)
    h2 = np.array([r[0] for r in df2.collect()], dtype=np.int64)
    assert built.might_contain(h1).all(), "false negatives after build"
    assert built.might_contain(h2).all(), "false negatives after delta merge"
    other = spark.range(20000, 40000).select(
        F.xxhash64("id").alias("url_hash"))
    ho = np.array([r[0] for r in other.collect()], dtype=np.int64)
    assert built.might_contain(ho).mean() < 0.05
