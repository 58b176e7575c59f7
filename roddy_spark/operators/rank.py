"""Deterministic, scalable global ordering (SURVEY.md §7.4.2).

The crawl ordering contract needs a total order over each batch's admitted
rows (``seq`` = the reference's monotonic Request.ID, roddy.go:192, under
single-consumer FIFO semantics). A naive ``row_number() OVER (ORDER BY …)``
collapses to ONE partition — a non-starter at 10^10 rows. Instead:

  1. range-partition + sort by the order columns (a normal distributed sort)
  2. count rows per partition (small driver-side collect, one int per
     partition)
  3. assign ``seq = partition_offset + local_index`` inside ``mapInPandas``

The order columns must form a total order (unique tuples); the result is
exactly the global sort rank regardless of where range boundaries fall, so
nondeterministic boundary sampling cannot change the output.

Width 1 (``num_partitions=1``, what the crawl loop asks for below 20k
candidates) is the one case where the single-partition window IS the
distributed plan: ``seq = row_number() OVER (ORDER BY order_cols) + start -
1``. It is the same rank (the order is total) with no persist, no count job
and no Python pass, so it launches no job at call time. The window plans
its own ``Exchange SinglePartition``: everything upstream of it (the
admission filters, ``first_occurrence``, the visited anti-join and its
bucketed scan) still runs at its own width, and only the ranked rows meet
in one task. Spark logs "No Partition Defined for Window operation" there;
that WARN is expected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_PID = "__rs_pid"

# DataFrames persisted by ordered_seq, released by release_rank_caches()
# once the caller has materialized the ranked output (e.g. written its
# checkpoint) — avoids recomputing the distributed sort for the size-count
# job vs the assignment job, without leaking cache across crawl batches.
_persisted: list[DataFrame] = []


def release_rank_caches() -> None:
    while _persisted:
        _persisted.pop().unpersist()


def ordered_seq(df: DataFrame, order_cols: list[str], seq_col: str = "seq",
                start: int = 0, num_partitions: int | None = None) -> DataFrame:
    """Add ``seq_col`` = start + global rank of the row under
    ``ORDER BY order_cols`` (which must be a total order)."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n == 1:
        # no coalesce: it would pull the whole upstream stage into the one
        # task; the window's own exchange keeps the upstream parallel
        rank = F.row_number().over(Window.orderBy(*order_cols))
        return df.withColumn(seq_col, rank.cast("long") + F.lit(start - 1))
    # Persist the INPUT first: repartitionByRange runs a boundary-sampling
    # pass over its child before the real shuffle, and the size-count job
    # below is a further pass — without this cache the (expensive,
    # UDF-bearing) upstream would execute 3x. With it: upstream 1x, then
    # cheap cache scans. (Measured: the rank job dropped from ~11s
    # non-scaling to ~2s on a 560k-row frontier level.)
    df = df.persist()
    _persisted.append(df)
    sdf = (df.repartitionByRange(n, *[F.col(c) for c in order_cols])
             .sortWithinPartitions(*order_cols)
             .withColumn(_PID, F.spark_partition_id()))
    sdf.persist()
    _persisted.append(sdf)
    sizes = {r[_PID]: r["cnt"] for r in
             sdf.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = start
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    schema = StructType(
        [f for f in sdf.schema.fields if f.name != _PID]
        + [StructField(seq_col, LongType())])

    def assign(batches):
        local = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if local is None:
                local = offsets[int(pdf[_PID].iloc[0])]
            out = pdf.drop(columns=[_PID])
            out[seq_col] = range(local, local + len(pdf))
            local += len(pdf)
            yield out

    return sdf.mapInPandas(assign, schema)
