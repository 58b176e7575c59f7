"""Sync-DFS visit order (SURVEY.md D3, reference roddy.go:142-154 /
examples/basic) — reproduced AT SCALE as a dataflow fixpoint.

The reference's sync mode visits depth-first in document order: one page at
a time, recursing into each link before its next sibling. That control flow
is inherently sequential — but its OUTPUT is not: the DFS preorder equals
ordering every reachable URL by the lexicographically smallest root-path
(sequence of link positions) that reaches it, with the node's depth taken
from that path. That characterization is computable with iterative
DataFrame self-joins (the north rule's phrase exactly):

  pending(url, path) ─ min path per url ─ keep improvements vs best ─
  admission filters (depth = len(path), regex, domain, robots) ─ fetch ─
  extract links ─ children(path ⊕ [pos]) → next pending … until fixpoint.

The filter and link steps are the BFS loop's own operators, so both visit
orders share one policy: ``operators/admission.py:admission_filters``
(the chain ``admit`` runs before its dedup) and
``plans/crawl.py:link_rows`` (the Arrow pass under ``expand``), shaped
here into (parent, pos, child) edges.

A node whose best path improves re-expands, so better prefixes propagate to
descendants; paths descend lexicographically and are bounded, so the loop
terminates (tree-ish webs converge in ~max-depth iterations). Budgets and
politeness are BFS-loop concepts (they depend on arrival batches) and are
intentionally not supported here; equality with a literal recursive-DFS
oracle is pinned in tests/test_dfs.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from roddy_spark.config import CrawlConfig
from roddy_spark.fetch import fetch_join
from roddy_spark.functions import urls as U
from roddy_spark.operators.admission import admission_filters
# rolling round state, shared with the other fixpoints
# (operators/scratch.py) — the plan-truncation device the BFS loop gets
# from its SnapshotStore, applied to iterative self-joins
from roddy_spark.operators.scratch import RoundState
from roddy_spark.plans.crawl import link_rows


def _admissible(df: DataFrame, config: CrawlConfig,
                robots_map: dict | None) -> DataFrame:
    """(url_norm, path) rows that pass the BFS admission filters, with
    depth = len(path)."""
    return (admission_filters(df.withColumn("depth", F.size("path")),
                              config, robots_map)
            .select("url_norm", "path"))


_EDGE_SCHEMA = StructType([
    StructField("url_norm", StringType()),   # parent
    StructField("pos", IntegerType()),
    StructField("child", StringType()),
])


def _edge_rows(pdf: pd.DataFrame, links: pd.DataFrame) -> pd.DataFrame:
    """``link_rows`` shape: (parent url_norm, pos, child) in document
    order."""
    return pd.DataFrame({
        "url_norm": pdf["url_norm"].to_numpy()[links["page"].to_numpy()],
        "pos": links["pos"].to_numpy().astype("int32"),
        "child": links["child"].to_numpy(),
    })


def dfs_preorder(spark: SparkSession, pages: DataFrame, seeds: list[str],
                 config: CrawlConfig, robots_map: dict | None = None,
                 fetcher=fetch_join, max_iters: int = 200,
                 stats: dict | None = None,
                 scratch_dir: str | None = None) -> DataFrame:
    """The reference's sync-DFS visit order: (url_norm, depth, seq) with
    seq = DFS preorder rank.

    The DFS visit path is the unique fixpoint of
        P(v) = min over ADMISSIBLE edges u→v of  P(u) ⊕ [pos],
        P(seed_i) ≤ [i]
    under lexicographic path order. (The UNCONSTRAINED min graph path is
    NOT correct — a path routing through an inadmissible prefix, or past
    the depth bound, is not one DFS can take; the per-extension
    ``_admissible`` filter is part of the operator.)

    Iteration is TARGETED Jacobi — the semi-naive form this operator
    admits (VERDICT r2 item 7): each round recomputes ONLY the nodes with
    an in-edge from a node whose estimate changed last round, but
    recomputes those from ALL their in-edges against the CURRENT estimate
    table. A node with no changed parent keeps its value because the
    operator reads nothing else. Plain delta-extension with
    min-accumulation would be WRONG here: lexicographic descent can
    LENGTHEN a path ((0,0,5) < (0,1) but is longer), pushing a parent's
    extensions past the depth bound — the child's old estimate (and its
    whole subtree) must then be RETRACTED, which an accumulate-only fold
    never does. Full per-node recomputation over current estimates handles
    retraction exactly like whole-table Jacobi, while per-round join input
    drops from |all paths| × |edges| to |in-edges of affected nodes| — on
    tree-like webs each node is recomputed O(1) times, so total work is
    ~|edges| instead of rounds × |edges|. Each URL is fetched once — edges
    accumulate in a cached table; rounds are bounded by the longest
    dependency chain (≲ longest admissible path).

    ``stats`` (optional dict) receives {"rounds", "delta_rows"} (changed
    URLs per round). Each count rides an ``Observation`` on the roll that
    materializes the changed set, and a zero count ends the loop — the
    convergence probe runs no job of its own.

    Iteration state (paths/changed/edges/fetched_urls) rolls through
    ``RoundState``, one live version per frame — flat storage at any
    round count. It is in memory by default; with ``scratch_dir`` (or
    ``$RODDY_SCRATCH_DIR``) it is durable parquet under a fresh
    subdirectory that is deleted on return."""
    with RoundState(spark, scratch_dir) as sc:
        seed_rows = [(u, [i]) for i, u in enumerate(seeds)]
        seeds_df = (spark.createDataFrame(seed_rows, ["raw_url", "path"])
                    .withColumn("url_norm", U.canonicalize("raw_url"))
                    .filter(F.col("url_norm").isNotNull())
                    .select("url_norm", F.col("path").cast("array<int>")
                            .alias("path")))
        obs = Observation()
        seeds_df = sc.roll(_admissible(seeds_df, config, robots_map)
                           .observe(obs, F.count(F.lit(1)).alias("n")),
                           "seeds")
        paths = seeds_df           # current estimate P (url_norm, path)
        changed = seeds_df.select("url_norm")  # changed last round
        edges: DataFrame | None = None  # (url_norm parent, pos, child)
        fetched_urls: DataFrame | None = None
        stats = {} if stats is None else stats
        stats["rounds"] = 0
        stats["delta_rows"] = [obs.get["n"]]
        for _ in range(max_iters):
            stats["rounds"] += 1
            # fetch + extract edges for changed nodes present in the
            # estimate table and not yet fetched (each url once)
            to_fetch = changed.join(paths, "url_norm", "left_semi")
            if fetched_urls is not None:
                to_fetch = to_fetch.join(fetched_urls, "url_norm",
                                         "left_anti")
            if not to_fetch.isEmpty():
                new_edges = link_rows(fetcher(to_fetch, pages), [],
                                      _EDGE_SCHEMA, _edge_rows)
                edges = sc.roll(new_edges if edges is None else
                                edges.unionByName(new_edges), "edges")
                fetched_urls = sc.roll(
                    to_fetch if fetched_urls is None else
                    fetched_urls.unionByName(to_fetch), "fetched")
            if edges is None:
                break
            # affected = nodes with an in-edge from a changed node;
            # recompute each from ALL its in-edges over the CURRENT
            # estimates (exact operator, restricted — handles retraction)
            aff = sc.roll(edges.join(changed, "url_norm", "left_semi")
                          .select(F.col("child").alias("url_norm"))
                          .distinct(), "aff")
            in_edges = edges.join(aff.withColumnRenamed("url_norm", "child"),
                                  "child", "left_semi")
            ext = (in_edges.join(paths.select("url_norm",
                                              F.col("path").alias("ppath")),
                                 "url_norm")
                   .select(F.col("child").alias("url_norm"),
                           F.concat(F.col("ppath"),
                                    F.array(F.col("pos"))).alias("path")))
            ext = _admissible(ext, config, robots_map)
            cand = ext.unionByName(seeds_df.join(aff, "url_norm",
                                                 "left_semi"))
            new_est = sc.roll(cand.groupBy("url_norm")
                              .agg(F.min("path").alias("path")), "est")
            old_aff = paths.join(aff, "url_norm", "left_semi")
            obs = Observation()
            changed = sc.roll(
                new_est.join(old_aff, ["url_norm", "path"], "left_anti")
                .unionByName(old_aff.join(new_est, ["url_norm", "path"],
                                          "left_anti"))
                .select("url_norm").distinct()
                .observe(obs, F.count(F.lit(1)).alias("n")), "changed")
            stats["delta_rows"].append(obs.get["n"])
            if stats["delta_rows"][-1] == 0:
                break  # new_est equals old_aff: paths is the fixpoint
            paths = sc.roll(paths.join(aff, "url_norm", "left_anti")
                            .unionByName(new_est), "paths")
        # preorder rank: lexicographic path order (shorter prefix first —
        # Spark array ordering — which is exactly parent-before-child)
        from roddy_spark.operators.rank import (ordered_seq,
                                                release_rank_caches)
        out = (ordered_seq(paths, ["path"], "seq")
               .select("url_norm", F.size("path").alias("depth"), "seq"))
        # the result's own checkpoint: detach it from the round state
        # released below (bounded — it is the final output, not round state)
        out = out.localCheckpoint(eager=True)
        release_rank_caches()
        return out
