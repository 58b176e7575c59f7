"""Physical-plan assertions: the plans must be the ones you'd WANT at 100 TB
— column pruning and predicate pushdown reaching the parquet scans,
broadcast joins where a side is small, no cartesian products in the
similarity/dedup candidate generation, whole-stage codegen on the relational
spine."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_column_pruning_token_stats(spark, sf_dir):
    from roddy_spark.plans.contract import q_token_stats
    p = plan_of(q_token_stats(spark, sf_dir))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    # only doc_id + text reach the scan — never lang/source/n_chars
    assert "text" in scan[0] and "doc_id" in scan[0]
    assert "lang" not in scan[0] and "source" not in scan[0]


def test_filter_pushdown_to_scan(spark, sf_dir):
    from roddy_spark.plans.contract import q_simhash
    p = plan_of(q_simhash(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in p \
        or "LessThan(doc_id,200)" in p, p


def test_broadcast_join_in_topk(spark, sf_dir):
    from roddy_spark.operators.similarity import brute_force_topk
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 3)
    p = plan_of(brute_force_topk(q, embs, k=5))
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p, p


def test_no_cartesian_in_lsh_ops(spark, sf_dir):
    from roddy_spark.operators.similarity import cosine_near_dup_pairs
    from roddy_spark.operators.textdedup import minhash_lsh_pairs
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p1 = plan_of(cosine_near_dup_pairs(embs.limit(50)))
    p2 = plan_of(minhash_lsh_pairs(docs.limit(50)))
    assert "CartesianProduct" not in p1, p1
    assert "CartesianProduct" not in p2, p2


def test_wholestage_codegen_on_relational_spine(spark, sf_dir):
    from roddy_spark.plans.contract import q_crawl_metrics
    df = q_crawl_metrics(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    p = plan_of(df, mode="simple")
    assert "isFinalPlan=true" in p, p
    assert "*(" in p, p  # WholeStageCodegen markers


def test_anti_join_broadcasts_small_visited(spark, sf_dir):
    from roddy_spark.plans.contract import q_visited_antijoin
    p = plan_of(q_visited_antijoin(spark, sf_dir))
    assert "LeftAnti" in p, p


def test_partial_aggregation_in_dedup(spark, sf_dir):
    """exact_dedup must do map-side partial aggregation (one shuffle)."""
    from roddy_spark.operators.textdedup import exact_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(exact_dedup(docs), mode="simple")
    assert p.count("Exchange") == 1, p
    assert "partial_" in p, p  # HashAggregate(partial) before the shuffle


def test_politeness_single_shuffle_per_phase(spark):
    """The salted politeness pre-cut must not explode into extra exchanges
    beyond its two window phases."""
    from roddy_spark.operators.politeness import politeness_split
    df = spark.range(1000).select(
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("host"),
        F.col("id").alias("url_hash"),
        F.col("id").alias("seq"),
        F.lit(1).alias("priority"))
    to_fetch, deferred = politeness_split(df, per_host_budget=3)
    p = plan_of(to_fetch, mode="simple")
    # phase 1 shuffles on (host, salt), phase 2 on host — exactly 2
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_bucketed_visited_antijoin_no_exchange(spark, tmp_path):
    """SURVEY §7.4.1 / crawl.py SnapshotStore: with visited_buckets=K the
    per-batch anti-join must NOT shuffle (or re-sort-free scan) the visited
    side — one Exchange total, on the batch-sized candidate side, and the
    visited scan reads bucketed files (Bucketed: true). At 10^10 visited
    rows this is the difference between a batch-sized shuffle and a
    history-sized one."""
    from roddy_spark.plans.crawl import SnapshotStore

    store = SnapshotStore(str(tmp_path / "ckpt"), visited_buckets=8)
    base = spark.range(0, 2000).select(
        F.concat(F.lit("http://h0.test/p/"),
                 F.col("id").cast("string")).alias("url_norm"),
        F.xxhash64("id").alias("url_hash"),
        F.lit("h0.test").alias("host"), F.lit(1).alias("depth"),
        F.lit(1).alias("priority"), F.col("id").alias("seq"),
        F.create_map().cast("map<string,string>").alias("ctx"),
        F.lit(1).alias("batch"))
    store.write_visited(base, 1)
    store.write_visited(base.withColumn("batch", F.lit(2))
                        .withColumn("seq", F.col("seq") + 2000), 2)
    visited = store.read_visited(spark)
    assert visited.count() == 4000
    assert store.read_visited(spark, 2).count() == 2000

    cand = spark.range(0, 500).select(
        F.xxhash64((F.col("id") * 3)).alias("url_hash"))
    # force the SMJ path (at real scale visited never broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cand.join(visited.select("url_hash"), "url_hash",
                           "left_anti")
        p = plan_of(joined)
        assert "Bucketed: true" in p, p
        # exactly one Exchange node — the candidate side; none above the
        # scan ("simple" mode prints each node once)
        n_exchange = plan_of(joined, "simple").count("Exchange")
        assert n_exchange == 1, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_bucketed_antijoin_stage_flat_as_visited_grows(spark, tmp_path):
    """The visited-side cost of the anti-join must not grow with history:
    the planned shuffle (Exchange) stays on the candidate side at every
    batch, so shuffled bytes are O(batch), not O(visited)."""
    from roddy_spark.plans.crawl import SnapshotStore

    store = SnapshotStore(str(tmp_path / "ckpt2"), visited_buckets=4)
    cand = spark.range(0, 200).select(
        F.xxhash64((F.col("id") * 7)).alias("url_hash"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for b in range(1, 4):
            df = spark.range((b - 1) * 1000, b * 1000).select(
                F.concat(F.lit("u"), F.col("id").cast("string"))
                .alias("url_norm"),
                F.xxhash64("id").alias("url_hash"),
                F.lit("h").alias("host"), F.lit(1).alias("depth"),
                F.lit(1).alias("priority"), F.col("id").alias("seq"),
                F.create_map().cast("map<string,string>").alias("ctx"),
                F.lit(b).alias("batch"))
            store.write_visited(df, b)
            visited = store.read_visited(spark)
            j = cand.join(visited.select("url_hash"), "url_hash",
                          "left_anti")
            p = plan_of(j)
            assert plan_of(j, "simple").count("Exchange") == 1 \
                and "Bucketed: true" in p, \
                f"batch {b}: visited side acquired a shuffle\n{p}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_fetch_join_byte_bound_takes_smj_path(spark, monkeypatch):
    """The broadcast-frontier decision is gated by BYTES as well as rows
    (VERDICT r2 item 6): a small-row-count frontier whose observed bytes
    exceed the bound must take the sort-merge LEFT-join path (no frontier
    broadcast hint), with identical results."""
    from roddy_spark import fetch as FE

    frontier = spark.range(6).select(
        F.concat(F.lit("http://h.test/"), F.col("id")).alias("url_norm"),
        F.lit(1).alias("depth"), F.lit(1).alias("priority"),
        F.col("id").alias("seq"))
    pages = spark.createDataFrame(
        [(f"http://h.test/{i}", 200, "text/html", "<html>x</html>")
         for i in (0, 2, 4)],
        ["url", "status", "content_type", "body_html"])

    seen = []
    real = FE.F.broadcast

    def spy(df):
        seen.append(df)
        return real(df)

    def rows(df):
        return sorted((r["url_norm"], r["status"], r["success"])
                      for r in df.collect())

    monkeypatch.setattr(FE.F, "broadcast", spy)
    big = FE.BROADCAST_FRONTIER_MAX_BYTES + 1
    got_smj = rows(FE.fetch_join(frontier, pages, frontier_rows=6,
                                 frontier_bytes=big))
    assert not seen, "frontier must NOT be broadcast above the byte bound"
    got_bcast = rows(FE.fetch_join(frontier, pages, frontier_rows=6,
                                   frontier_bytes=1024))
    assert seen, "small frontier below both bounds must broadcast"
    assert got_smj == got_bcast
    assert {s for (_, s, _) in got_smj} == {200, 404}


def test_c4_filters_zero_exchange(spark, sf_dir):
    """c4_quality_filters claims ZERO shuffle: pure project over the scan
    (higher-order functions, no explode, no Python)."""
    from roddy_spark.operators import lines as LN
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    p = plan_of(LN.c4_quality_filters(docs), "simple")
    assert "Exchange" not in p, p
    assert "Generate" not in p, p          # no explode
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_dedup_lines_two_partial_agg_exchanges(spark, sf_dir):
    """dedup_lines claims exactly the two aggregation exchanges (by line,
    by doc) with map-side partial aggregation before each, and no
    join-back of the corpus against the winner set (the min_by aggregate
    IS the winner set). The counts/kept join keys both sides by id."""
    from roddy_spark.operators import lines as LN
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    p = plan_of(LN.dedup_lines(docs), "simple")
    # exchanges: hash(norm), hash(id) for kept, hash(id) for counts, and
    # the final counts-kept join reuses those — allow <= 4, require the
    # skew-critical partial_min_by before the norm exchange
    assert p.count("Exchange hashpartitioning") <= 4, p
    assert "partial_min_by" in p or "partial_minby" in p.lower(), p


def test_bm25_no_explode_one_stats_exchange(spark, sf_dir):
    """bm25_topk claims zero explode/UDF, a broadcast one-row stats join,
    and TakeOrdered instead of a global sort."""
    from roddy_spark.operators.retrieval import bm25_topk
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    p = plan_of(bm25_topk(docs, ["spark", "join"], k=10), "simple")
    assert "Generate" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert ("BroadcastExchange" in p
            or "BroadcastNestedLoopJoin" in p), p
    # the corpus is tokenized ONCE into a checkpointed narrow frame —
    # neither the stats aggregate nor the scoring pass rescans parquet
    assert "Scan parquet" not in p, p


def test_pagerank_iteration_partial_agg(spark):
    """Each PageRank iteration partial-aggregates contributions before
    the dst exchange (hub skew collapses map-side); the dangling mass
    comes from the has_out flag — no per-iteration anti-join."""
    from pyspark.sql import functions as F
    from roddy_spark.operators.linkgraph import Q, _pr_step
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 9) for i in range(40)], ["src", "dst"])
    e = edges.distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = e.join(deg, "src")
    nodes = (e.select(F.col("src").alias("node")).distinct()
             .withColumn("has_out", F.lit(True)))
    ranks = nodes.withColumn("rank_q", F.lit(Q // 9).cast("long"))
    p = plan_of(_pr_step(ed, nodes, ranks, 9, 1, 85), "simple")
    assert "partial_sum" in p, p
    assert "left_anti" not in p.lower(), p


def test_pagerank_round_state_flat(spark):
    """PageRank round state rolls through RoundState's in-memory default
    (VERDICT r6 item 4): the returned plan is the same size at any
    iteration count (no lineage growth) and executor storage holds at
    most the single final-output checkpoint — never one pinned set per
    iteration."""
    from roddy_spark.operators.linkgraph import pagerank
    edges = spark.createDataFrame(
        [(i % 11, (i * 5) % 13) for i in range(60)], ["src", "dst"])
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    p2 = plan_of(pagerank(edges, iterations=2), "simple")
    p8 = plan_of(pagerank(edges, iterations=8), "simple")
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert len(p8) <= len(p2) + 64, (len(p2), len(p8))
    assert after - before <= 2, (before, after)


def test_lm_scorers_broadcast_map_row_local(spark, sf_dir):
    """lm_crossentropy / nb_quality_score (r7 shape, ADVICE r6): the
    model reduces to a fixed-size broadcast dict of JVM-precomputed
    per-token contributions and scoring is ONE vectorized Arrow stage
    folding each doc's token array in document order — the returned
    plan has no join, no explode, and no Exchange at all (the corpus
    never shuffles; the tiny model build runs eagerly at call time)."""
    from roddy_spark.operators import textquality as TQ
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    for df in (TQ.lm_crossentropy(docs, ref, vocab_size=50),
               TQ.nb_quality_score(docs, ref,
                                   docs.filter(F.col("doc_id") % 7 == 1),
                                   vocab_size=50)):
        p = plan_of(df, "simple")
        assert "ArrowEvalPython" in p, p
        assert "Exchange" not in p, p
        assert "Join" not in p, p
        assert "Generate explode" not in p, p


def test_lm_scorers_bit_identical_across_partitioning(spark, sf_dir):
    """The ADVICE r6 determinism contract: the per-doc signed-double
    log-odds fold must be BIT-identical across shuffle-partition counts
    and input partitionings (the config sweep that would have caught the
    CORRECTNESS_r06 nb_quality hash flake)."""
    from roddy_spark.operators import textquality as TQ
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    good = docs.filter(F.col("doc_id") % 5 == 0)
    bad = docs.filter(F.col("doc_id") % 7 == 1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts, repart in ((2, 1), (7, 3), (32, 16), (200, 5)):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            d = docs.repartition(repart)
            rows = sorted(
                (r["doc_id"], r["n_tokens"], r["log_odds"], r["good"])
                for r in TQ.nb_quality_score(
                    d, good, bad, vocab_size=300).collect())
            results.append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert all(r == results[0] for r in results[1:])


def test_span_dedup_no_cartesian_partial_min_by(spark, sf_dir):
    """remove_duplicate_spans: span keys computed row-local, winner via
    partial-aggregated min_by, no cartesian anywhere."""
    from roddy_spark.operators import textdedup as TD
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    p = plan_of(TD.remove_duplicate_spans(docs, k=8), "simple")
    assert "CartesianProduct" not in p, p
    assert "partial_min_by" in p or "partial_minby" in p.lower(), p


def test_gopher_line_stats_zero_exchange(spark, sf_dir):
    from roddy_spark.operators import textquality as TQ
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    p = plan_of(TQ.gopher_line_stats(docs), "simple")
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
