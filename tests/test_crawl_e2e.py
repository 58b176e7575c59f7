"""End-to-end equivalence: the Spark BFS crawler vs the single-threaded
Python oracle on the same synthetic web — identical URL-seen set AND crawl
ordering (the north_star correctness gate), across configs covering depth,
domain/regex filters, budgets, politeness deferral, robots, and revisit."""

from __future__ import annotations

import pytest

from roddy_spark.config import CrawlConfig
from roddy_spark.operators.dedup import ShardedBloom
from roddy_spark.oracle import crawl_oracle, pages_dict_from_pandas
from roddy_spark.plans.crawl import Crawler
from roddy_spark.robots import build_robots_map
from roddy_spark.sources.synthweb import (WebConfig, default_seeds,
                                          robots_pandas, synthweb_df,
                                          synthweb_pandas)

WEB = WebConfig(n_hosts=3, n_pages=120, n_corpus=50)

CONFIGS = {
    "basic_depth2": (CrawlConfig(max_depth=2), default_seeds(WEB)),
    "depth3_allow_h0": (
        CrawlConfig(max_depth=3, allowed_domains=("h0.test",)),
        ["http://h0.test/"]),
    "deny_domain": (
        CrawlConfig(max_depth=2, disallowed_domains=("h1.test",)),
        ["http://h0.test/", "http://h1.test/"]),
    "regex_filters": (
        CrawlConfig(max_depth=3,
                    disallowed_url_filters=(r"/p/\d*[02468]$",),
                    url_filters=(r"h0\.test",)),
        ["http://h0.test/"]),
    "max_requests": (CrawlConfig(max_depth=3, max_requests=9),
                     ["http://h0.test/"]),
    "politeness_b2": (CrawlConfig(max_depth=2, per_host_budget=2),
                      ["http://h0.test/"]),
    "robots": (CrawlConfig(max_depth=2, respect_robots=True),
               ["http://h1.test/"]),
    "revisit": (CrawlConfig(max_depth=1, allow_url_revisit=True),
                ["http://h0.test", "http://h0.test/"]),
    "deep_full": (CrawlConfig(max_depth=4, per_host_budget=7),
                  ["http://h0.test/"]),
    # force the broadcast-bloom prefilter on (auto only kicks in at 50k
    # visited) so the bloom → anti-join path is oracle-verified end-to-end
    "bucketed_visited": (CrawlConfig(max_depth=3, per_host_budget=3,
                                     visited_buckets=8),
                         default_seeds(WEB)),
    # with the tiny shard budget set in test_spark_matches_oracle, the
    # visited filter is genuinely multi-sharded at test scale
    # (ShardedBloom with >1 shard, delta-merged per batch)
    "bloom_forced": (CrawlConfig(max_depth=3, bloom_mode="on",
                                 bloom_capacity=1 << 16),
                     ["http://h0.test/"]),
}


@pytest.fixture(scope="module")
def web_fixture(spark):
    pdf = synthweb_pandas(WEB)
    pages_df = synthweb_df(spark, WEB, partitions=4)
    pages_df.persist().count()
    robots = build_robots_map(
        list(zip(robots_pandas(WEB)["host"], robots_pandas(WEB)["robots_txt"])))
    yield pages_dict_from_pandas(pdf), pages_df, robots
    pages_df.unpersist()


@pytest.mark.parametrize("name", list(CONFIGS))
def test_spark_matches_oracle(spark, web_fixture, tmp_path, name,
                              monkeypatch):
    pages_dict, pages_df, robots = web_fixture
    config, seeds = CONFIGS[name]
    if name == "bloom_forced":
        monkeypatch.setattr(ShardedBloom, "DEFAULT_MAX_SHARD_BYTES", 1 << 14)
        assert ShardedBloom.shards_for(config.bloom_capacity) > 1
    robots_rows = list(zip(robots_pandas(WEB)["host"],
                           robots_pandas(WEB)["robots_txt"]))
    expected = crawl_oracle(pages_dict, seeds, config,
                            robots_rows=robots_rows)
    crawler = Crawler(spark, config, pages_df,
                      str(tmp_path / f"ckpt_{name}"), robots_map=robots)
    state = crawler.run(seeds)

    got = [(r["url_norm"], r["depth"], r["seq"]) for r in
           state.visited(spark).orderBy("seq").collect()]
    exp = [(u, d, s) for u, d, s, _ in
           sorted(expected.admitted, key=lambda a: a[2])]

    if config.allow_url_revisit:
        # revisit mode: no dedup, compare multisets of fetched URLs
        assert sorted(u for u, _, _ in got) == sorted(u for u, _, _ in exp)
        return
    assert [g[0] for g in got] == [e[0] for e in exp], (
        f"{name}: crawl ORDER mismatch")
    assert got == exp, f"{name}: (url, depth, seq) mismatch"

    # fetch invariants (queue_test.go:98-100 analog)
    fetches = state.fetches(spark)
    n_fetched = fetches.count()
    n_ok = fetches.filter("success").count()
    exp_ok = sum(1 for f in expected.fetches if f["success"])
    assert n_fetched == len(expected.fetches)
    assert n_ok == exp_ok
    # per-batch per-host politeness budget respected
    if config.per_host_budget:
        from pyspark.sql import functions as F
        over = (fetches.groupBy("batch", "host").count()
                .filter(F.col("count") > config.per_host_budget).count())
        assert over == 0


def test_bloom_mode_rejects_unknown_value():
    """A typo such as 'of' must not silently mean 'auto'."""
    for mode in ("auto", "on", "off"):
        CrawlConfig(bloom_mode=mode)
    with pytest.raises(ValueError, match="bloom_mode"):
        CrawlConfig(bloom_mode="of")


def test_batch_overcap_bloom_delta_uses_distributed_build(
        spark, web_fixture, tmp_path, monkeypatch):
    """ADVICE r5: the batch loop's over-cap bloom path. With
    MAX_DELTA_HASHES forced tiny, every batch whose admitted count
    exceeds the cap must delta-merge via the distributed per-shard bitmap
    build (never a driver-side hash collect), and the crawl must stay
    oracle-identical with every admitted hash bloom-positive."""
    import numpy as np

    import roddy_spark.operators.dedup as DD

    monkeypatch.setattr(DD, "MAX_DELTA_HASHES", 2)
    calls = []
    real = DD.sharded_bloom_from_hashes_df

    def spy(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    # refresh_visited_bloom resolves this name in operators.dedup per call
    monkeypatch.setattr(DD, "sharded_bloom_from_hashes_df", spy)

    pages_dict, pages_df, robots = web_fixture
    config = CrawlConfig(max_depth=3, bloom_mode="on",
                         bloom_capacity=1 << 16)
    seeds = ["http://h0.test/"]
    expected = crawl_oracle(pages_dict, seeds, config,
                            robots_rows=list(zip(
                                robots_pandas(WEB)["host"],
                                robots_pandas(WEB)["robots_txt"])))
    crawler = Crawler(spark, config, pages_df,
                      str(tmp_path / "ckpt_overcap"), robots_map=robots)
    state = crawler.run(seeds)

    assert calls, "over-cap batches never took the distributed bloom build"
    # a wrong delta-merge could only surface as wrong dedup decisions —
    # exact (url, depth, seq) equality with the oracle rules that out
    got = [(r["url_norm"], r["depth"], r["seq"]) for r in
           state.visited(spark).orderBy("seq").collect()]
    exp = [(u, d, s) for u, d, s, _ in
           sorted(expected.admitted, key=lambda a: a[2])]
    assert got == exp
    assert len(np.unique([g[2] for g in got])) == len(got)


def test_metrics_computed_from_fetches(spark, web_fixture, tmp_path):
    """``CrawlState.metrics()`` is the per-(batch, host) fetch count,
    success count and success rate over the crawl's fetches rows
    (SURVEY.md D10), computed on read; no metrics table is written."""
    import os

    _, pages_df, _ = web_fixture
    ckpt = tmp_path / "metrics"
    state = Crawler(spark, CrawlConfig(max_depth=3, per_host_budget=2),
                    pages_df, str(ckpt)).run(["http://h0.test/",
                                              "http://h1.test/"])
    want: dict = {}
    for r in state.fetches(spark).collect():
        n, ok = want.get((r["batch"], r["host"]), (0, 0))
        want[(r["batch"], r["host"])] = (n + 1, ok + int(r["success"]))
    got = {(r["batch"], r["host"]): (r["n_fetched"], r["n_ok"],
                                     r["success_rate"])
           for r in state.metrics(spark).collect()}
    assert len({b for b, _ in want}) > 1 and len(want) > 2
    assert got == {k: (n, ok, round(ok / n, 4))
                   for k, (n, ok) in want.items()}
    assert "metrics" not in os.listdir(ckpt)


def test_crawl_batch_job_budget(spark, web_fixture, tmp_path, monkeypatch):
    """Each micro-batch of a crawl with a per-host budget, deferral and
    the visited bloom runs at most 11 Spark jobs, and a read of a table
    the store wrote runs none (the store reads with the schema it wrote,
    so there is no footer-inference job). Jobs are grouped per batch by
    switching the job group at each manifest commit."""
    import uuid

    from roddy_spark.plans.crawl import SnapshotStore

    _, pages_df, _ = web_fixture
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    commits, reads = [], []
    current = [f"{tag}-c0"]

    def set_group(g):
        sc.setJobGroup(g, g)

    real_commit = SnapshotStore.commit_manifest
    real_read = SnapshotStore.read

    def commit(self, m):
        real_commit(self, m)
        commits.append(m)
        current[0] = f"{tag}-c{len(commits)}"
        set_group(current[0])

    def read(self, spark_, table, batch=None):
        g = f"{tag}-r{len(reads)}"
        reads.append((table, g))
        set_group(g)
        try:
            return real_read(self, spark_, table, batch)
        finally:
            set_group(current[0])

    monkeypatch.setattr(SnapshotStore, "commit_manifest", commit)
    monkeypatch.setattr(SnapshotStore, "read", read)
    config = CrawlConfig(max_depth=3, per_host_budget=2, bloom_mode="on")
    seeds = ["http://h0.test/", "http://h0.test/p/1", "http://h0.test/p/2",
             "http://h1.test/"]
    set_group(current[0])
    try:
        state = Crawler(spark, config, pages_df, str(tmp_path / "jobs"),
                        max_batches=2).run(seeds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # commits: the seed, one per batch, then the final "done" flip
    assert len(state.batches) == 2 and len(commits) == 4
    assert all(m["pending_n"] > 0 for m in commits[1:3]), "no deferral"
    per_batch = [jobs(f"{tag}-c{k}") for k in (1, 2)]
    assert all(0 < n <= 11 for n in per_batch), per_batch
    read_jobs = {g: (t, jobs(g)) for t, g in reads}
    assert reads and all(n == 0 for _, n in read_jobs.values()), read_jobs


def test_repeated_crawl_reuses_compiled_classes(spark, web_fixture,
                                                tmp_path, compiled_classes):
    """A second crawl of the same web, into a fresh checkpoint, finds its
    generated classes in Spark's codegen cache. Only the fetch write's
    2 classes per batch recompile: ``fetched_at`` is folded to a
    timestamp literal that the generated code inlines. With Spark's
    default 100-entry cache the second crawl compiled 77 classes."""
    _, pages_df, _ = web_fixture
    config = CrawlConfig(max_depth=3, per_host_budget=2, bloom_mode="on")
    seeds = ["http://h0.test/", "http://h0.test/p/1", "http://h0.test/p/2",
             "http://h1.test/"]

    def crawl(name):
        before = compiled_classes()
        state = Crawler(spark, config, pages_df, str(tmp_path / name),
                        max_batches=2).run(seeds)
        return state, compiled_classes() - before

    crawl("first")
    state, compiled = crawl("second")
    assert len(state.batches) == 2
    assert compiled <= 2 * len(state.batches), compiled
