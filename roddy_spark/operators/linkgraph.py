"""Link-graph analytics for crawl prioritization: PageRank over the
host/page graph. Production web pipelines rank hosts by centrality to
allocate crawl budget (CommonCrawl publishes exactly this ranking); the
crawler's frontier priority can then seed from it. No counterpart in the
reference crawler — pipeline-brief scope — but DuckDB-oracled (contract
entry ``pagerank`` with the iteration unrolled in portable SQL).

Determinism contract: all arithmetic is INTEGER-QUANTIZED. Ranks live as
``rank_q`` = rank × 10^12 in BIGINT; per-edge contributions use integer
division (``div``), damping is ``(x * dp) div 100``, and the teleport
term is ``(Q * (100-dp)) div (100 * N)``. Integer sums are exact and
order-free, so the result is bit-identical at any parallelism, on any
engine — float PageRank can differ in the last ulp per reduction order,
which would break hash-compared oracles.

Scale shape (r7, VERDICT r6 item 4 + ADVICE): the raw edge input is
scanned ONCE — the distinct edge set, the degree-annotated edge list and
the node set (tagged ``has_out`` at build time, so the per-iteration
dangling mass is a flag-filtered aggregate instead of an anti-join) all
roll through ``RoundState`` (operators/scratch.py), exactly like the DFS
and connected-components fixpoints. Each iteration is then one
equi-join (ranks × edges on src) plus one partial-aggregated
``groupBy(dst)`` — hub pages collapse map-side, skew-safe — with the
round state rolled: the plan is the SAME SIZE every iteration, storage
stays flat at any iteration count, and the materialized statistics let
AQE pick broadcast vs sort-merge honestly at either scale. The dangling
mass is a one-row aggregate cross-joined back (no driver round-trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q = 1_000_000_000_000  # rank quantization: rank_q = rank * Q


def _pr_step(ed: DataFrame, nodes: DataFrame, ranks: DataFrame,
             n_nodes: int, base_q: int, dp: int) -> DataFrame:
    """One un-rolled PageRank iteration: equi-join ranks into the
    degree-annotated edges, partial-aggregated groupBy(dst), dangling
    mass from the has_out flag, teleport + damping in exact integer
    arithmetic. Split out so the plan shape is pinnable in tests."""
    contribs = (ed.join(ranks, ed.src == ranks.node)
                .select(F.col("dst").alias("node"),
                        F.expr("rank_q div out_deg").alias("c"))
                .groupBy("node").agg(F.sum("c").alias("c_sum")))
    dangling = (ranks.filter(~F.col("has_out"))
                .agg(F.coalesce(F.sum("rank_q"), F.lit(0))
                     .alias("d_sum")))
    return (nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select("node", "has_out",
                    (F.lit(base_q) + F.expr(
                        f"({dp} * (coalesce(c_sum, 0) "
                        f"+ (d_sum div {n_nodes}))) div 100"))
                    .cast("long").alias("rank_q")))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 5, damping_pct: int = 85,
             scratch_dir: str | None = None) -> DataFrame:
    """Integer-quantized PageRank over distinct directed edges.

    Returns (node, rank_q, rank): ``rank_q`` BIGINT (exact, the oracle
    compares this), ``rank`` = round(rank_q / 10^12, 6) for reading.
    Dangling nodes (no out-edges) spread their mass uniformly. Ranks sum
    to ~1 (integer division sheds < N*(iterations+1) quanta of 10^-12).

    Round state is in memory by default; with ``scratch_dir`` (or
    ``$RODDY_SCRATCH_DIR``) it is durable parquet under a fresh
    subdirectory that is deleted on return (operators/scratch.py)."""
    from roddy_spark.operators.scratch import RoundState

    with RoundState(edges.sparkSession, scratch_dir) as sc:
        e = sc.roll(edges.select(F.col(src).alias("src"),
                                 F.col(dst).alias("dst")).distinct(),
                    "edges")  # the only scan of the (possibly huge) input
        deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        # degree rides every iteration's join — attach it to the edges once
        ed = sc.roll(e.join(deg, "src"), "edges_deg")
        srcs = (e.select(F.col("src").alias("node")).distinct()
                .withColumn("has_out", F.lit(True)))
        dst_only = (e.select(F.col("dst").alias("node")).distinct()
                    .join(srcs.select("node"), "node", "left_anti")
                    .withColumn("has_out", F.lit(False)))
        # node set and the uniform initial ranks are ONE rolled frame: the
        # node side of each iteration's join re-reads the live ranks
        # version and projects rank_q away (no separate nodes roll)
        nodes_all = srcs.unionByName(dst_only)
        n_nodes = nodes_all.count()

        dp = damping_pct
        base_q = (Q * (100 - dp)) // (100 * n_nodes)
        ranks = sc.roll(
            nodes_all.withColumn("rank_q", F.lit(Q // n_nodes).cast("long")),
            "ranks")
        for _ in range(iterations):
            ranks = sc.roll(
                _pr_step(ed, ranks.select("node", "has_out"), ranks,
                         n_nodes, base_q, dp),
                "ranks")
        return ranks.select(
            "node", "rank_q",
            F.round(F.col("rank_q") / F.lit(float(Q)), 6).alias("rank")) \
            .localCheckpoint(eager=True)
