"""URL-seen dedup (SURVEY.md F8, reference roddy.go:292-310 +
storage/storage.go:47-90) — the 10^10-scale cost center (SURVEY.md §7.4.1).

Two-phase design per the north rule:
  1. a broadcast BLOOM pre-filter over the visited hashes — vectorized
     numpy membership inside a pandas UDF — cheaply discards the vast
     majority of already-seen URLs *before* they reach the shuffle;
  2. an exact ``LEFT ANTI`` join against the ``visited`` table confirms
     (bloom false-positives would otherwise drop never-seen URLs).

Between micro-batches the filter is DELTA-MERGED: only the batch's newly
admitted hashes are OR-ed into the structure driver-side (the north rule's
"cuckoo-filter delta merges per micro-batch" — we use a counting-free bloom
since the crawl never deletes from the visited set; a cuckoo filter's
deletability buys nothing here, and bloom delta-merge is a pure bitwise OR).

At true 10^10 scale a single broadcast filter (~12 GB at 10 bits/key) is too
big; ``ShardedBloom`` keys shards by ``pmod(url_hash, n_shards)`` so each
executor-side lookup touches one shard and shards can be sized/rotated to the
active working set; the exact anti-join (bucketed on url_hash in the
snapshot store) remains the ground truth. (Shard sizing under a memory
budget follows the pattern of "Optimizing Collections of Bloom Filters
within a Space Budget", VLDB 2024; windowed/deletable-membership variants —
the cuckoo-filter direction the north rule names — per "A Learned Cuckoo
Filter for Approximate Membership Queries over Variable-sized Sliding
Windows on Data Streams", SIGMOD 2023; see PAPERS.md.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


class Bloom:
    """Vectorized numpy bloom filter over int64 hashes.

    Double hashing (Kirsch–Mitzenmacher): index_i = h1 + i*h2 (mod m),
    with h1/h2 derived from the already-well-mixed xxhash64 key.
    """

    def __init__(self, capacity: int, fpp: float = 0.01):
        bits = max(64, int(-capacity * np.log(fpp) / (np.log(2) ** 2)))
        self.m = 1 << int(np.ceil(np.log2(bits)))  # power of two
        self.k = max(1, int(round((self.m / max(capacity, 1)) * np.log(2))))
        self.k = min(self.k, 16)
        self.bits = np.zeros(self.m // 8, dtype=np.uint8)

    def _indices(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.uint64)
        h1 = h & np.uint64(self.m - 1)
        h2 = ((h >> np.uint64(33)) | np.uint64(1))
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1 + i * h2) & np.uint64(self.m - 1)  # (k, n)

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        idx = self._indices(np.asarray(hashes, dtype=np.int64)).ravel()
        np.bitwise_or.at(self.bits, (idx >> 3).astype(np.int64),
                         (1 << (idx & 7)).astype(np.uint8))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indices(np.asarray(hashes, dtype=np.int64))  # (k, n)
        bytes_ = self.bits[(idx >> 3).astype(np.int64)]
        bits = (bytes_ >> (idx & np.uint64(7)).astype(np.uint8)) & 1
        return bits.all(axis=0)

    def merge(self, other: "Bloom") -> None:
        """Delta merge (bitwise OR) — the per-micro-batch merge step."""
        if other.m != self.m or other.k != self.k:
            raise ValueError("bloom shape mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)


class ShardedBloom:
    """Bloom sharded by pmod(hash, n_shards) — the 10^10-scale layout: each
    shard stays bounded (≤ ``max_shard_bytes``), shards are built and
    delta-merged independently, and the driver-side merge touches ONE shard
    bitmap at a time (constant memory per merge step regardless of total
    filter size)."""

    DEFAULT_MAX_SHARD_BYTES = 128 << 20

    @staticmethod
    def shards_for(capacity: int, fpp: float = 0.01,
                   max_shard_bytes: int | None = None) -> int:
        """Shard count so each shard's bitmap stays under the byte budget
        (10^9 keys @ 1% fpp ≈ 1.2 GiB total → 10 shards at 128 MiB)."""
        max_b = max_shard_bytes or ShardedBloom.DEFAULT_MAX_SHARD_BYTES
        total_bytes = Bloom(max(capacity, 1), fpp).m // 8
        return max(1, -(-total_bytes // max_b))

    def __init__(self, capacity: int, fpp: float = 0.01,
                 n_shards: int | None = None,
                 max_shard_bytes: int | None = None):
        if n_shards is None:
            n_shards = self.shards_for(capacity, fpp, max_shard_bytes)
        self.n_shards = max(1, n_shards)
        per = max(1024, capacity // self.n_shards)
        self.shards = [Bloom(per, fpp) for _ in range(self.n_shards)]

    def merge(self, other: "ShardedBloom") -> None:
        """Delta merge, shard-wise (one bitmap OR at a time)."""
        if other.n_shards != self.n_shards:
            raise ValueError("shard count mismatch")
        for mine, theirs in zip(self.shards, other.shards):
            mine.merge(theirs)

    def _split(self, hashes: np.ndarray) -> np.ndarray:
        # Signed floor-mod (numpy int64 % positive n is non-negative) so the
        # lookup shard matches Spark's pmod(hash, n) used by the distributed
        # build; uint64 % n diverges for negative hashes whenever n is not a
        # power of two, which made ~half the visited set bloom-NEGATIVE
        # (silent re-crawl) with e.g. 10 shards (ADVICE r2).
        return (hashes.astype(np.int64) % np.int64(self.n_shards)).astype(int)

    def add(self, hashes: np.ndarray) -> None:
        hashes = np.asarray(hashes, dtype=np.int64)
        sh = self._split(hashes)
        for s in range(self.n_shards):
            self.shards[s].add(hashes[sh == s])

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(hashes), dtype=bool)
        sh = self._split(hashes)
        for s in range(self.n_shards):
            mask = sh == s
            if mask.any():
                out[mask] = self.shards[s].might_contain(hashes[mask])
        return out


def sharded_bloom_from_hashes_df(df: DataFrame, capacity: int,
                                 fpp: float = 0.01,
                                 n_shards: int | None = None,
                                 max_shard_bytes: int | None = None,
                                 hash_col: str = "url_hash") -> ShardedBloom:
    """Distributed ShardedBloom build. Rows are repartitioned by
    ``pmod(hash, n_shards)`` so every shard's keys land in ONE partition;
    each partition emits (shard, bitmap) rows for the shards it owns, and
    the driver ORs them ONE AT A TIME via ``toLocalIterator`` — peak driver
    memory = the assembled filter + a single shard bitmap, and total driver
    traffic = n_shards × shard_bytes = the filter size, independent of row
    count, which keeps the build valid at 10^10 rows."""
    proto = ShardedBloom(capacity, fpp, n_shards, max_shard_bytes)
    k_shards = proto.n_shards
    m, k = proto.shards[0].m, proto.shards[0].k

    shard = F.pmod(F.col(hash_col), F.lit(k_shards)).cast("int")
    rep = (df.select(F.col(hash_col), shard.alias("__shard"))
             .repartition(k_shards, "__shard"))

    def build(batches):
        local: dict[int, np.ndarray] = {}
        for pdf in batches:
            for s, grp in pdf.groupby("__shard"):
                bits = local.get(int(s))
                if bits is None:
                    bits = local.setdefault(int(s),
                                            np.zeros(m // 8, dtype=np.uint8))
                b = Bloom.__new__(Bloom)
                b.m, b.k, b.bits = m, k, bits
                b.add(grp[hash_col].to_numpy(dtype=np.int64))
        for s, bits in local.items():
            yield pd.DataFrame({"shard": [s], "bits": [bits.tobytes()]})

    built = rep.mapInPandas(build, "shard int, bits binary")
    # small filters: one collect (one job). Large filters: toLocalIterator
    # streams shard bitmaps one at a time — constant driver memory, at the
    # cost of a job per partition batch (only worth it when the filter
    # itself is driver-memory-significant).
    rows = (built.collect() if k_shards * (m // 8) <= (64 << 20)
            else built.toLocalIterator())
    for row in rows:
        np.bitwise_or(proto.shards[row["shard"]].bits,
                      np.frombuffer(row["bits"], dtype=np.uint8),
                      out=proto.shards[row["shard"]].bits)
    return proto


def bloom_active(config, visited_count: int) -> bool:
    """One place for the filter-activation policy (bloom_mode on/off/auto
    with the auto threshold) — shared by the batch Crawler and the
    streaming FrontierIngest so the two paths can never gate differently.
    """
    if config.bloom_mode == "on":
        return True
    if config.bloom_mode == "off":
        return False
    return visited_count >= config.bloom_min_visited


def build_visited_bloom(config, visited: DataFrame | None) -> ShardedBloom:
    """One place for filter construction (shard sizing from bloom_capacity
    / bloom_max_shard_bytes; distributed build when a visited table
    exists, empty filter otherwise) — shared by both intake paths."""
    if visited is None:
        return ShardedBloom(config.bloom_capacity, config.bloom_fpp,
                            max_shard_bytes=config.bloom_max_shard_bytes)
    return sharded_bloom_from_hashes_df(
        visited, config.bloom_capacity, config.bloom_fpp,
        max_shard_bytes=config.bloom_max_shard_bytes)


def bloom_prefilter(candidates: DataFrame, bloom: ShardedBloom,
                    hash_col: str = "url_hash") -> DataFrame:
    """Tag each row with ``__maybe_seen`` from the broadcast bloom. A bloom
    has no false negatives, so ``False`` ⇒ the URL is definitely new and can
    bypass the exact anti-join entirely; ``True`` ⇒ maybe seen (or a false
    positive) and must be confirmed by the anti-join. See ``dedup_against``.
    """
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(BooleanType())
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bc.value.might_contain(h.to_numpy(dtype=np.int64)))

    return candidates.withColumn("__maybe_seen", maybe_seen(F.col(hash_col)))


def dedup_against(candidates: DataFrame, visited: DataFrame | None,
                  bloom: ShardedBloom | None = None,
                  hash_col: str = "url_hash") -> DataFrame:
    """Exact not-yet-visited filter with optional bloom fast path.

    With a bloom: candidates split into definitely-new (bloom negative —
    pass through with NO join) and maybe-seen (bloom positive — exact
    LEFT ANTI join against ``visited``). Without: plain anti-join.
    """
    if visited is None:
        return candidates
    if bloom is None:
        return candidates.join(visited.select(hash_col), on=hash_col,
                               how="left_anti")
    tagged = bloom_prefilter(candidates, bloom, hash_col)
    fresh = tagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = tagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed = maybe.join(visited.select(hash_col), on=hash_col,
                           how="left_anti")
    return fresh.unionByName(confirmed)


def first_occurrence(candidates: DataFrame, hash_col: str = "url_hash",
                     order_cols: tuple[str, ...] = ("priority", "parent_seq",
                                                    "pos")) -> DataFrame:
    """Within-batch first-occurrence-wins dedup (SURVEY.md F8 note): keep the
    candidate instance with the minimum discovery-order tuple per URL.
    Expressed as min_by aggregation (map-side partial agg; no window sort)."""
    others = [c for c in candidates.columns if c != hash_col]
    ord_expr = F.struct(*[F.col(c) for c in order_cols])
    agg = [F.min_by(F.col(c), ord_expr).alias(c) for c in others]
    return candidates.groupBy(hash_col).agg(*agg)
