"""Per-host politeness scheduler (SURVEY.md D5/D6) — the north rule's
"salted repartition-by-domain with window-ranked priority queues".

The reference only has a GLOBAL delay + semaphore (roddy.go:683-690,
bot.go:98-104; the per-host LimitRule ancestor is stubbed out,
collector.go:104); this implements the upgraded per-host semantics: within a
micro-batch, at most ``per_host_budget`` URLs per host are released to the
fetch stage — ordered by (priority, seq), i.e. paging links first, then
discovery order — and the overflow is DEFERRED to the next batch (kept
queued, not dropped; deferred rows are already visited-marked so they skip
re-admission — SURVEY.md §7.4.3).

Skew: one mega-host would put a whole level's rows in one window partition.
The window only needs per-host ORDER, so the first shuffle is salted: rows
are ranked within (host, salt) slices, which keeps upstream stages
balanced; AQE's skew handling covers the residual. With a budget B the
per-host rank short-circuits: a row outside the top-B of its (host, salt)
slice cannot make the per-host top-B (the final per-host top-B is a subset
of the union of per-salt top-Bs), so only the ≤ salt·B survivors of a host
meet in its authoritative rank.

One frame, one salted shuffle. The second window partitions by (host,
bucket): bucket 0 holds a host's phase-1 survivors and ranks them
together, a cut row keeps its slice as bucket salt + 1. So the rows are
shuffled once on (host, salt) and once on (host, bucket), and the cut rows
stay spread. Splitting the pool into survivors and cut rows and unioning
the two sides would shuffle it on (host, salt) twice: Spark infers a
``WindowGroupLimit`` below the survivors' exchange (its filter is
``rank <= B``), so the two exchanges differ and AQE cannot reuse one.

``politeness_flags`` returns the pool with a fetch flag;
``politeness_split``'s two sides are two filters of it (``split_flagged``).
The crawl loop writes the flagged frame itself as its pending snapshot and
splits the snapshot it reads back, so the windows run once, in that
write, for both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


FETCH = "__fetch"


def politeness_flags(pool: DataFrame, per_host_budget: int,
                     salt_buckets: int = 8) -> DataFrame:
    """pool + a boolean ``FETCH`` column: true for the rows released to
    this batch's fetch, false for the deferred ones. One frame, so a
    caller that writes it once runs the politeness windows once for both
    sides of the split. Budget 0 ⇒ every row fetches."""
    if not per_host_budget:
        return pool.withColumn(FETCH, F.lit(True))

    # Phase 1 — salted pre-cut: rank within (host, salt). A row ranked > B
    # inside its salt slice alone already has ≥ B same-host rows ahead of it
    # in (priority, seq) order, so it cannot make the per-host top-B. Its
    # bucket is its own slice (salt + 1); the survivors (≤ salt·B per
    # host) share bucket 0.
    salt = F.pmod(F.col("url_hash"), F.lit(salt_buckets))
    pre = Window.partitionBy("host", salt).orderBy("priority", "seq")
    bucket = F.when(F.row_number().over(pre) <= per_host_budget,
                    F.lit(0)).otherwise(salt + 1)
    # Phase 2 — authoritative per-host rank of the survivors: partitioned
    # by (host, bucket), bucket 0 ranks a host's survivors together while
    # the cut rows stay spread over their slices.
    w = Window.partitionBy("host", "__bucket").orderBy("priority", "seq")
    fetch = ((F.col("__bucket") == 0)
             & (F.row_number().over(w) <= per_host_budget))
    return (pool.withColumn("__bucket", bucket)
            .withColumn(FETCH, fetch).drop("__bucket"))


def politeness_split(pool: DataFrame, per_host_budget: int,
                     salt_buckets: int = 8) -> tuple[DataFrame, DataFrame]:
    """pool (url_norm, url_hash, host, depth, priority, seq) →
    (to_fetch, deferred): the two sides of ``politeness_flags``. Budget 0
    ⇒ everything fetches."""
    return split_flagged(politeness_flags(pool, per_host_budget,
                                          salt_buckets))


def split_flagged(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(to_fetch, deferred) filters of a ``politeness_flags`` frame."""
    return (flagged.filter(F.col(FETCH)).drop(FETCH),
            flagged.filter(~F.col(FETCH)).drop(FETCH))
