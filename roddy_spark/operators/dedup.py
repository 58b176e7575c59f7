"""URL-seen dedup (SURVEY.md F8, reference roddy.go:292-310 +
storage/storage.go:47-90) — the 10^10-scale cost center (SURVEY.md §7.4.1).

Two-phase design per the north rule:
  1. a broadcast BLOOM pre-filter over the visited hashes — vectorized
     numpy membership inside a pandas UDF — passes the URLs it has never
     seen (no false negatives) around the join, so they never reach its
     shuffle;
  2. an exact ``LEFT ANTI`` join against the ``visited`` table confirms
     the maybe-seen rest (bloom false-positives would otherwise drop
     never-seen URLs).

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


# Visited-filter constants (single-valued in every deployment, so not
# CrawlConfig fields): false-positive target, the visited size at which
# bloom_mode='auto' turns the filter on (below it the exact anti-join is
# cheaper than maintaining the filter), and the cap on the per-batch hash
# delta the driver materializes for a merge. The admitted COUNT rides the
# visited write as an Observation metric. The hashes ride it too only when
# the caller knows a bound on the written rows within the cap
# (``bloom_delta_metric``): a sliced collect_list would NOT bound transfer,
# because slice() is a result expression applied AFTER CollectMetrics
# aggregation: every task still ships its full partial buffer (ADVICE r5).
# Without such a bound an in-cap delta pays one column-pruned collect
# (url_hash only, ≤ cap × 8 B); an over-cap delta never moves hashes to
# the driver — it takes the distributed per-shard bitmap build, whose
# driver footprint is one shard bitmap regardless of batch size.
BLOOM_FPP = 0.01
BLOOM_MIN_VISITED = 50_000
MAX_DELTA_HASHES = 1_000_000

# the column ``bloom_prefilter`` tags rows with, ``dedup_against`` splits on
MAYBE_SEEN = "__maybe_seen"


class ShardedBloom:
    """Bloom filter over int64 hashes, sharded by pmod(hash, n_shards) —
    the 10^10-scale layout: one ``(n_shards, m/8)`` uint8 bitmap whose
    rows stay bounded (≤ ``DEFAULT_MAX_SHARD_BYTES``), so the distributed
    build ships and ORs one shard row at a time on the driver (constant
    memory per merge step regardless of total filter size).

    Within a shard, double hashing (Kirsch–Mitzenmacher): index_i =
    h1 + i*h2 (mod m), with h1/h2 derived from the already-well-mixed
    xxhash64 key. A one-shard filter is a plain bloom filter."""

    DEFAULT_MAX_SHARD_BYTES = 128 << 20

    @staticmethod
    def _shape(capacity: int, fpp: float) -> tuple[int, int]:
        """(bits per shard m — a power of two, hash count k)."""
        bits = max(64, int(-capacity * np.log(fpp) / (np.log(2) ** 2)))
        m = 1 << int(np.ceil(np.log2(bits)))
        k = int(round(m / max(capacity, 1) * np.log(2)))
        return m, min(16, max(1, k))

    @classmethod
    def shards_for(cls, capacity: int, fpp: float = BLOOM_FPP) -> int:
        """Shard count so each shard's bitmap stays under the byte budget
        (10^9 keys @ 1% fpp ≈ 1.2 GiB total → 10 shards at 128 MiB)."""
        total_bytes = cls._shape(max(capacity, 1), fpp)[0] // 8
        return max(1, -(-total_bytes // cls.DEFAULT_MAX_SHARD_BYTES))

    def __init__(self, capacity: int, fpp: float = BLOOM_FPP,
                 n_shards: int | None = None):
        if n_shards is None:
            n_shards = self.shards_for(capacity, fpp)
        self.n_shards = max(1, n_shards)
        self.m, self.k = self._shape(
            max(1024, capacity // self.n_shards), fpp)
        self.bits = np.zeros((self.n_shards, self.m // 8), dtype=np.uint8)

    def _probe(self, hashes) -> tuple[np.ndarray, np.ndarray]:
        """(byte offset, bit) of each key's k probes, both shaped (k, n),
        in the flattened bitmap. The shard is a signed floor-mod (numpy
        int64 % positive n is non-negative) so it matches Spark's
        pmod(hash, n) used by the distributed build; uint64 % n diverges
        for negative hashes whenever n is not a power of two, which made
        ~half the visited set bloom-NEGATIVE (silent re-crawl) with e.g.
        10 shards (ADVICE r2)."""
        h = np.asarray(hashes, dtype=np.int64)
        shard = (h % np.int64(self.n_shards)).astype(np.uint64)
        u, mask = h.astype(np.uint64), np.uint64(self.m - 1)
        h2 = (u >> np.uint64(33)) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        pos = shard * np.uint64(self.m) + (((u & mask) + i * h2) & mask)
        return (pos >> np.uint64(3)).astype(np.int64), \
            (pos & np.uint64(7)).astype(np.uint8)

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        byte, bit = self._probe(hashes)
        np.bitwise_or.at(self.bits.reshape(-1), byte.ravel(),
                         (np.uint8(1) << bit).ravel())

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        byte, bit = self._probe(hashes)
        return ((self.bits.reshape(-1)[byte] >> bit) & 1).all(axis=0)

    def merge(self, other: "ShardedBloom") -> None:
        """Delta merge (bitwise OR) — the per-micro-batch merge step."""
        if (other.n_shards, other.m, other.k) != \
                (self.n_shards, self.m, self.k):
            raise ValueError("bloom shape mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)


def sharded_bloom_from_hashes_df(df: DataFrame, capacity: int,
                                 fpp: float = BLOOM_FPP,
                                 n_shards: int | None = None,
                                 hash_col: str = "url_hash") -> ShardedBloom:
    """Distributed ShardedBloom build. Rows are repartitioned by
    ``pmod(hash, n_shards)`` so every shard's keys land in ONE partition;
    each partition fills a one-shard filter per shard it owns and emits
    (shard, bitmap) rows, and the driver ORs them ONE AT A TIME into the
    filter's shard rows — peak driver memory = the assembled filter + a
    single shard bitmap, and total driver traffic = n_shards × shard_bytes
    = the filter size, independent of row count, which keeps the build
    valid at 10^10 rows."""
    proto = ShardedBloom(capacity, fpp, n_shards)
    k_shards = proto.n_shards
    # a one-shard filter over capacity // k_shards has the shard's (m, k)
    per_shard = capacity // k_shards

    shard = F.pmod(F.col(hash_col), F.lit(k_shards)).cast("int")
    rep = (df.select(F.col(hash_col), shard.alias("__shard"))
             .repartition(k_shards, "__shard"))

    def build(batches):
        local: dict[int, ShardedBloom] = {}
        for pdf in batches:
            for s, grp in pdf.groupby("__shard"):
                b = local.get(int(s))
                if b is None:
                    b = local[int(s)] = ShardedBloom(per_shard, fpp, 1)
                b.add(grp[hash_col].to_numpy(dtype=np.int64))
        for s, b in local.items():
            yield pd.DataFrame({"shard": [s], "bits": [b.bits.tobytes()]})

    built = rep.mapInPandas(build, "shard int, bits binary")
    # small filters: one collect (one job). Large filters: toLocalIterator
    # streams shard bitmaps one at a time — constant driver memory, at the
    # cost of a job per partition batch (only worth it when the filter
    # itself is driver-memory-significant).
    rows = (built.collect() if proto.bits.nbytes <= (64 << 20)
            else built.toLocalIterator())
    for row in rows:
        s = row["shard"]
        np.bitwise_or(proto.bits[s],
                      np.frombuffer(row["bits"], dtype=np.uint8),
                      out=proto.bits[s])
    return proto


def build_visited_bloom(config, visited: DataFrame | None) -> ShardedBloom:
    """Filter construction: shard count from ``bloom_capacity``; the
    distributed build when a visited table exists, empty otherwise."""
    if visited is None:
        return ShardedBloom(config.bloom_capacity)
    return sharded_bloom_from_hashes_df(visited, config.bloom_capacity)


def bloom_delta_metric(bloom: ShardedBloom | None, max_rows: int):
    """The Observation metric ``hashes``, the written rows' url_hash list,
    for a write whose rows a live filter merges next: ``max_rows`` must
    bound the written rows, and the metric is only built when that bound
    is within MAX_DELTA_HASHES, so every task's partial buffer is bounded
    too. None otherwise; the merge then reads the delta back."""
    if bloom is None or max_rows > MAX_DELTA_HASHES:
        return None
    return F.collect_list("url_hash").alias("hashes")


def refresh_visited_bloom(config, bloom: ShardedBloom | None,
                          admitted_total: int, read_visited,
                          delta=None, n_new: int = 0,
                          hashes=None) -> ShardedBloom | None:
    """The visited filter's whole lifecycle, shared by the batch Crawler
    and the streaming FrontierIngest so the two can never diverge.

    Without a live filter: build one when ``bloom_mode`` makes it active
    ('on', or 'auto' once ``admitted_total`` reaches BLOOM_MIN_VISITED) —
    empty on a fresh store, else rebuilt from ``read_visited()``. With a
    live filter: OR in the ``n_new`` hashes of ``delta()`` (the rows just
    admitted), routed by that count against MAX_DELTA_HASHES. Both sources
    are zero-argument callables returning a DataFrame, so nothing is read
    unless it is used; ``hashes``, the delta's hashes when they rode its
    write (``bloom_delta_metric``), spares the in-cap read. Returns the
    filter, or None while inactive."""
    if bloom is None:
        if config.bloom_mode == "off" or (
                config.bloom_mode == "auto"
                and admitted_total < BLOOM_MIN_VISITED):
            return None
        return build_visited_bloom(
            config, read_visited() if admitted_total else None)
    if n_new > MAX_DELTA_HASHES:
        bloom.merge(sharded_bloom_from_hashes_df(
            delta(), config.bloom_capacity, n_shards=bloom.n_shards))
    elif n_new:
        if hashes is None:
            hashes = [r[0] for r in delta().select("url_hash").collect()]
        bloom.add(np.asarray(hashes, dtype=np.int64))
    return bloom


def bloom_prefilter(candidates: DataFrame, bloom: ShardedBloom,
                    hash_col: str = "url_hash") -> DataFrame:
    """Tag each row with ``MAYBE_SEEN`` from the broadcast bloom. A bloom
    has no false negatives, so ``False`` ⇒ the URL is definitely new and can
    bypass the exact anti-join entirely; ``True`` ⇒ maybe seen (or a false
    positive) and must be confirmed by the anti-join. See ``dedup_against``.
    """
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(BooleanType())
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bc.value.might_contain(h.to_numpy(dtype=np.int64)))

    return candidates.withColumn(MAYBE_SEEN, maybe_seen(F.col(hash_col)))


def dedup_against(candidates: DataFrame, visited: DataFrame | None,
                  hash_col: str = "url_hash") -> DataFrame:
    """Exact not-yet-visited filter with optional bloom fast path.

    Candidates tagged by ``bloom_prefilter`` split on the tag into
    definitely-new (bloom negative — pass through with NO join) and
    maybe-seen (bloom positive — exact LEFT ANTI join against
    ``visited``), and the tag is dropped. Untagged: plain anti-join.
    Without ``visited`` the candidates pass unchanged."""
    if visited is None:
        return candidates
    seen = visited.select(hash_col)
    if MAYBE_SEEN not in candidates.columns:
        return candidates.join(seen, on=hash_col, how="left_anti")
    fresh = candidates.filter(~F.col(MAYBE_SEEN)).drop(MAYBE_SEEN)
    maybe = candidates.filter(F.col(MAYBE_SEEN)).drop(MAYBE_SEEN)
    return fresh.unionByName(maybe.join(seen, on=hash_col, how="left_anti"))


def first_occurrence(candidates: DataFrame, hash_col: str = "url_hash",
                     order_cols: tuple[str, ...] = ("priority", "parent_seq",
                                                    "pos"),
                     num_partitions: int = 0) -> DataFrame:
    """Within-batch first-occurrence-wins dedup (SURVEY.md F8 note): keep the
    candidate instance with the minimum discovery-order tuple per URL.
    Expressed as ONE min_by over a struct of the other columns (map-side
    partial agg; no window sort).

    ``num_partitions`` > 0 hash-partitions the rows by ``hash_col`` into
    that many partitions before the aggregate, which then needs no
    shuffle of its own. A caller joining the result with a table bucketed
    by ``hash_col`` into as many buckets passes the bucket count: the
    join then finds both sides partitioned alike and shuffles neither."""
    others = [c for c in candidates.columns if c != hash_col]
    if num_partitions:
        candidates = candidates.repartition(num_partitions, hash_col)
    first = F.min_by(F.struct(*others), F.struct(*order_cols))
    return (candidates.groupBy(hash_col).agg(first.alias("__first"))
            .select(hash_col, "__first.*"))
