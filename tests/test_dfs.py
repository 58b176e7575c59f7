"""Sync-DFS preorder (SURVEY D3): the Spark lexicographic-path fixpoint
(plans/dfs.py) must reproduce the literal recursive DFS of the reference's
sync mode, exactly, across configs — including cross-host links, torture
hrefs, depth limits, filters and robots."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from roddy_spark.config import CrawlConfig
from roddy_spark.oracle import dfs_oracle, pages_dict_from_pandas
from roddy_spark.plans.dfs import dfs_preorder
from roddy_spark.sources.synthweb import (WebConfig, robots_pandas,
                                          synthweb_df, synthweb_pandas)

WEB = WebConfig(n_hosts=3, n_pages=150, n_corpus=40)

CONFIGS = {
    "depth2": (CrawlConfig(max_depth=2), ["http://h0.test/"]),
    "depth4_two_seeds": (CrawlConfig(max_depth=4),
                         ["http://h0.test/", "http://h2.test/"]),
    "filters": (CrawlConfig(max_depth=3,
                            disallowed_url_filters=(r"/missing/",),
                            allowed_domains=("h0.test", "h1.test")),
                ["http://h0.test/"]),
    "unlimited": (CrawlConfig(), ["http://h1.test/"]),
}


@pytest.fixture(scope="module")
def web(spark):
    pdf = synthweb_pandas(WEB)
    df = synthweb_df(spark, WEB, partitions=4)
    df.persist().count()
    yield pages_dict_from_pandas(pdf), df
    df.unpersist()


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_dfs_preorder_matches_recursive_oracle(spark, web, name):
    pages_dict, pages_df = web
    cfg, seeds = CONFIGS[name]
    got = [(r["url_norm"], r["depth"]) for r in
           dfs_preorder(spark, pages_df, seeds, cfg)
           .orderBy("seq").collect()]
    want = dfs_oracle(pages_dict, seeds, cfg)
    assert got, f"{name}: empty crawl"
    assert got == want, (
        f"{name}: DFS order diverged at "
        f"{next(i for i, (a, b) in enumerate(zip(got, want)) if a != b) if got != want and len(got) == len(want) else 'len'}"
    )


def test_dfs_robots(spark, web):
    pages_dict, pages_df = web
    robots_rows = list(zip(robots_pandas(WEB)["host"],
                           robots_pandas(WEB)["robots_txt"]))
    from roddy_spark.robots import build_robots_map
    cfg = CrawlConfig(max_depth=3, respect_robots=True)
    got = [(r["url_norm"], r["depth"]) for r in
           dfs_preorder(spark, pages_df, ["http://h0.test/"], cfg,
                        robots_map=build_robots_map(robots_rows))
           .orderBy("seq").collect()]
    want = dfs_oracle(pages_dict, ["http://h0.test/"], cfg,
                      robots_rows=robots_rows)
    assert got == want and got


def test_dfs_semi_naive_delta_shrinks(spark, web):
    """The targeted-Jacobi iteration recomputes only nodes downstream of a
    change: on the deep-web fixture the per-round changed-set must shrink
    to a small tail instead of staying at the full node count every round
    (VERDICT r2 item 7), while the result still equals the recursive
    oracle (covered by the equality tests above)."""
    pages_dict, pages_df = web
    cfg, seeds = CONFIGS["depth4_two_seeds"]
    stats = {}
    out = dfs_preorder(spark, pages_df, seeds, cfg, stats=stats)
    n_nodes = out.count()
    deltas = stats["delta_rows"]
    assert stats["rounds"] >= 3, deltas
    # convergence: the last pre-termination delta is a small fraction of
    # the node count (whole-table Jacobi would report n_nodes-scale
    # "changes" until the final round under this accounting's analog)
    assert deltas[-1] == 0
    tail = deltas[-2]
    assert tail < max(4, n_nodes // 4), (deltas, n_nodes)
    # total recomputation work is bounded: sum of deltas stays within a
    # few multiples of the node count (each node settles after O(1)
    # recomputations on this web), not rounds × n_nodes
    assert sum(deltas) < 6 * n_nodes, (deltas, n_nodes)


def test_dfs_storage_memory_flat_across_rounds(spark, web):
    """Round state rolls through RoundState's in-memory default (one
    live localCheckpoint version per frame, the superseded one dropped),
    so executor STORAGE memory does not accumulate pinned blocks with
    round count (VERDICT r3 item 6): after a deep multi-round run, at
    most the single final-output checkpoint is newly cached — never one
    block set per round."""
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    stats = {}
    out = dfs_preorder(spark, web[1], ["http://h0.test/", "http://h2.test/"],
                       CrawlConfig(max_depth=4), stats=stats)
    out.count()
    after = len(sc._jsc.sc().getRDDStorageInfo())
    assert stats["rounds"] >= 3
    # only the final-output checkpoint (+ the module fixture's persisted
    # web) may be cached — round state must leave nothing behind
    assert after - before <= 1, (before, after, stats["rounds"])
