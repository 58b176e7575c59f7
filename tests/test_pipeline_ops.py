"""Training-data pipeline operators over the driver testdata (documents /
embeddings / events)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from roddy_spark.functions import text as T
from roddy_spark.operators import similarity as S
from roddy_spark.operators import textdedup as D
from roddy_spark.operators import textquality as Q
from roddy_spark.streaming import events as E


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df.persist().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


def test_h32_matches_duckdb(spark):
    import duckdb
    vals = ["", "a", "hello world", "ünïcødé ✓"]
    got = {r["s"]: r["h"] for r in
           spark.createDataFrame([(v,) for v in vals], ["s"])
           .select("s", T.h32("s").alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        (exp,) = con.execute(
            "select ('0x' || substr(md5(?),1,8))::bigint", [v]).fetchone()
        assert got[v] == exp, f"h32 mismatch for {v!r}"


def test_token_counts(spark, docs):
    row = (docs.select("doc_id", "text", T.token_count("text").alias("n"),
                       T.bpe_ish_token_count("text").alias("nb"))
           .first())
    assert row["n"] == len(row["text"].split())
    assert row["nb"] >= row["n"]


def test_quality_and_lang(spark, docs):
    rows = (docs.limit(50)
            .select("doc_id", T.quality_score("text").alias("q"),
                    T.lang_id("text").alias("lang_pred"))
            .collect())
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)
    assert all(r["lang_pred"] in ("en", "de", "es", "fr", "zh", "und")
               for r in rows)


def test_exact_dedup_with_planted_dups(spark, docs):
    base = docs.select("doc_id", "text").limit(100)
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      # whitespace/case mangling — fingerprint must survive
                      F.upper(F.concat(F.col("text"), F.lit("  "))).alias(
                          "text"))
    un = base.unionByName(dup)
    out = D.exact_dedup(un).collect()
    assert all(r["n_copies"] == 2 for r in out)
    assert all(r["keeper_id"] < 100000 for r in out)
    assert len(out) == 100


def test_ngram_jaccard_finds_planted_neardups(spark, docs):
    base = docs.select("doc_id", "text").limit(60)
    # near-dup: append two words (high 3-gram overlap on 80-word docs)
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" tail words")).alias(
                          "text"))
    pairs = D.ngram_jaccard_pairs(base.unionByName(dup), n=3,
                                  threshold=0.8).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = {(i, i + 100000) for i in range(60)}
    assert planted <= found
    # any extra pairs must genuinely clear the threshold (the synthetic
    # corpus drawn from a tiny vocabulary contains real near-dups)
    assert all(p["jaccard"] >= 0.8 for p in pairs)


def test_minhash_lsh_recall_vs_exact(spark, docs):
    base = docs.select("doc_id", "text").limit(60)
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" tail words")).alias(
                          "text"))
    un = base.unionByName(dup)
    lsh = {(p["id_a"], p["id_b"])
           for p in D.minhash_lsh_pairs(un, num_hashes=8, bands=4,
                                        threshold=0.5).collect()}
    planted = {(i, i + 100000) for i in range(60)}
    recall = len(lsh & planted) / len(planted)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_simhash_near_pairs_banded(spark, docs):
    base = docs.select("doc_id", "text").limit(40)
    # near-dup: one extra token on an ~80-token doc → few simhash bits flip
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" extra")).alias("text"))
    pairs = D.simhash_near_pairs(base.unionByName(dup),
                                 max_hamming=3).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = {(i, i + 100000) for i in range(40)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.8, f"banded simhash recall {recall}"
    assert all(p["hamming"] <= 3 for p in pairs)


def test_simhash_collision_groups(spark, docs):
    base = docs.select("doc_id", "text").limit(80)
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.col("text"))  # identical text → identical simhash
    out = D.simhash_dupes(base.unionByName(dup)).collect()
    assert len(out) >= 1
    assert all(r["n_docs"] >= 2 for r in out)


def test_brute_force_topk(spark, embs):
    q = embs.filter(F.col("vec_id") < 3)
    out = S.brute_force_topk(q, embs, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert len(rows) == 5
        assert rows[0]["nid"] == qid and rows[0]["sim"] == 1.0  # self first
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall(spark, embs):
    # planted high-similarity neighbors MUST be retrieved (the regime
    # hyperplane LSH is for); scaled copies share the exact signature
    base = embs.limit(100)
    twins = base.select((F.col("vec_id") + 10000).alias("vec_id"),
                        F.transform("embedding", lambda x: x * 2.0)
                        .alias("embedding"), "label")
    corpus = base.unionByName(twins)
    q = base.filter(F.col("vec_id") < 10)
    got = S.lsh_topk(q, corpus, k=2, n_planes=8, dim=64).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["nid"])
    for qid in range(10):
        assert {qid, qid + 10000} <= by_q[qid], f"missed twin of {qid}"

    # on weakly-similar random data, multi-probe recall vs exact is bounded
    # but must stay useful
    exact = {(r["qid"], r["nid"]) for r in
             S.brute_force_topk(q, embs, k=3).collect()}
    approx = {(r["qid"], r["nid"]) for r in
              S.lsh_topk(q, embs, k=3, n_planes=8, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.35, f"LSH ANN recall {recall} too low"


def test_cosine_near_dup_pairs(spark, embs):
    base = embs.limit(80)
    dup = base.select((F.col("vec_id") + 10000).alias("vec_id"),
                      "embedding", "label")
    out = S.cosine_near_dup_pairs(base.unionByName(dup),
                                  threshold=0.999).collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    planted = {(r["vec_id"], r["vec_id"] + 10000) for r in base.collect()}
    assert planted <= found


def test_sessionize_and_rollup(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sess = E.sessionize(ev, gap_minutes=30)
    agg = sess.agg(F.sum("n_events").alias("n")).first()
    assert agg["n"] == ev.count()  # every event lands in exactly one session
    roll = E.hourly_rollup(ev)
    assert roll.agg(F.sum("n_events")).first()[0] == ev.count()


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    from roddy_spark.streaming.events import hourly_rollup_streaming
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    batch = {(r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in E.hourly_rollup(ev).collect()}
    # the streaming file source requires a DIRECTORY
    import shutil
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "events.parquet")
    sq = hourly_rollup_streaming(spark, str(src_dir))
    q = (sq.writeStream.format("memory").queryName("roll")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in spark.sql("select * from roll").collect()}
    # availableNow + watermark: all closed windows emitted... the LAST
    # window may be withheld by the watermark; compare on the intersection
    # and require near-total coverage
    assert len(got) >= len(batch) - 4
    for k, v in got.items():
        assert batch[k] == v


def test_cosine_near_dup_recall_on_random_perturbed(spark):
    """Recall vs exact brute force on seeded RANDOM vectors with noise-
    perturbed near-dups (NOT collinear twins): perturbed pairs straddle
    hyperplanes, so a single-exact-bucket candidate generator silently
    drops them — multi-probe must recover ≥0.95 of the true pairs at
    cosine ≥ 0.95 (VERDICT r1 item 5)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(150):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i < 60:  # perturbed near-dup: cosine ~0.95-0.999, bits may flip
            eps = rng.uniform(0.05, 0.30)
            w = v + eps * rng.standard_normal(64) / 8.0
            rows.append((i + 10000, [float(x) for x in w]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = {(r["id_a"], r["id_b"]) for r in
           S.cosine_near_dup_pairs(df, threshold=0.95).collect()}
    # exact truth: all pairs with cosine >= 0.95 (driver-side, 210 vectors)
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    truth = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if sims[i, j] >= 0.95}
    assert truth, "fixture produced no true near-dup pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"multi-probe recall {recall:.3f} < 0.95 " \
                           f"({len(truth)} true pairs)"
    assert got <= truth | got  # sanity
    # precision is exact by construction (cosine verify)
    assert all(p in truth for p in got), "verify stage passed a false pair"


def test_ivf_topk_recall_and_exhaustive_exactness(spark, sf_dir):
    """IVF ANN: (a) exhaustive probing (n_probe == n_centroids) must equal
    exact brute force — the machinery proof; (b) partial probing (2 of 8
    cells ≈ 25% of the corpus scanned) must keep high top-k recall."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 8)
    c = embs.filter(F.col("vec_id") < 300)
    exact = {(r["qid"], r["nid"]) for r in
             S.brute_force_topk(q, c, k=5).collect()}

    full = {(r["qid"], r["nid"]) for r in
            S.ivf_topk(q, c, k=5, n_centroids=8, n_probe=8).collect()}
    assert full == exact, "exhaustive IVF must reproduce exact top-k"

    part = {(r["qid"], r["nid"]) for r in
            S.ivf_topk(q, c, k=5, n_centroids=8, n_probe=2).collect()}
    recall = len(part & exact) / len(exact)
    assert recall >= 0.5, f"IVF n_probe=2/8 recall {recall:.2f}"


def test_politeness_megahost_skew(spark):
    """One host contributing 60k of a level's rows (Zipf head) must still
    release exactly the per-host top-B by (priority, seq) — the salted
    pre-cut bounds the authoritative host window's input at salt*B rows
    per host, so a mega-host cannot funnel the level into one partition."""
    from roddy_spark.operators.politeness import politeness_split

    mega = spark.range(0, 60000).select(
        F.concat(F.lit("http://big.test/p/"), F.col("id").cast("string"))
        .alias("url_norm"),
        F.xxhash64("id").alias("url_hash"),
        F.lit("big.test").alias("host"), F.lit(1).alias("depth"),
        (F.col("id") % 2).cast("int").alias("priority"),
        F.col("id").alias("seq"))
    tiny = spark.range(100000, 100010).select(
        F.concat(F.lit("http://small.test/p/"), F.col("id").cast("string"))
        .alias("url_norm"),
        F.xxhash64("id").alias("url_hash"),
        F.lit("small.test").alias("host"), F.lit(1).alias("depth"),
        F.lit(1).cast("int").alias("priority"), F.col("id").alias("seq"))
    pool = mega.unionByName(tiny)
    to_fetch, deferred = politeness_split(pool, per_host_budget=3,
                                          salt_buckets=8)
    got = {(r["host"], r["priority"], r["seq"])
           for r in to_fetch.collect()}
    # big.test: priority 0 wins → the three smallest odd seqs (id%2==0 is
    # priority 0: seqs 0,2,4); small.test: seqs 100000-100002
    assert got == {("big.test", 0, 0), ("big.test", 0, 2),
                   ("big.test", 0, 4),
                   ("small.test", 1, 100000), ("small.test", 1, 100001),
                   ("small.test", 1, 100002)}, got
    assert deferred.count() == 60000 + 10 - 6


# -- near-dup cluster resolution (VERDICT r5 item 2) --------------------------

def test_connected_components_transitive_chain(spark):
    """A~B~C with C≁A directly must land in ONE cluster; a disjoint pair
    and an isolated node stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)],
                                  ["doc_id"])
    stats = {}
    got = {(r["id"], r["cluster_id"]) for r in
           D.connected_components(pairs, nodes=nodes, stats=stats).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99)}
    assert stats["delta_rows"][-1] == 0


def test_connected_components_long_chain_pointer_jump(spark):
    """A 40-node path graph: hash-min alone needs ~39 rounds; the pointer
    jump must converge in far fewer (O(log diameter))."""
    n = 40
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  ["id_a", "id_b"])
    stats = {}
    got = D.connected_components(pairs, stats=stats).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == n
    assert stats["rounds"] < 20


def test_canonical_docs_keeper_rules(spark):
    """Keep-one-per-cluster: min id by default; prefer column (quality)
    overrides with min-id tiebreak. A~B~C collapses to one survivor."""
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (99, 2.0)],
        ["doc_id", "quality"])
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    by_id = {r["id"]: r["keeper_id"] for r in
             D.canonical_docs(docs, pairs).collect()}
    assert by_id == {1: 1, 2: 1, 3: 1, 10: 10, 99: 99}
    by_q = {r["id"]: r["keeper_id"] for r in
            D.canonical_docs(docs, pairs, prefer="quality").collect()}
    # quality ties 2 vs 3 → min id 2 survives; chain has exactly 1 keeper
    assert by_q == {1: 2, 2: 2, 3: 2, 10: 10, 99: 99}


def test_canonical_docs_null_prefer(spark):
    """NULL prefer values must never drop docs (code-review r6): a doc
    with NULL quality loses to any scored clustermate, and a cluster
    (or singleton) whose quality is NULL THROUGHOUT falls back to the
    min-id rule — every input doc still gets exactly one output row."""
    docs = spark.createDataFrame(
        [(1, None), (2, 4.0),          # mixed cluster: scored doc wins
         (5, None), (6, None),         # all-NULL cluster: min id wins
         (9, None)],                   # all-NULL singleton
        "doc_id long, quality double")
    pairs = spark.createDataFrame([(1, 2), (5, 6)], ["id_a", "id_b"])
    by_q = {r["id"]: r["keeper_id"] for r in
            D.canonical_docs(docs, pairs, prefer="quality").collect()}
    assert by_q == {1: 2, 2: 2, 5: 5, 6: 5, 9: 9}


def test_canonical_docs_over_lsh_pairs(spark, docs):
    """End-to-end over the real LSH pair output: planted near-dups collapse
    onto their base doc; untouched docs survive as their own keeper."""
    base = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat("text", F.lit(" tail words")).alias("text"))
    un = base.unionByName(dup)
    pairs = D.minhash_lsh_pairs(un, num_hashes=8, bands=4, threshold=0.5)
    res = D.canonical_docs(un, pairs)
    rows = {r["id"]: (r["cluster_id"], r["keeper_id"]) for r in res.collect()}
    assert len(rows) == 60
    paired = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for a, b in paired:
        assert rows[a][0] == rows[b][0], "paired docs in different clusters"
        assert rows[a][1] == rows[b][1]
    # every keeper is a member of its own cluster
    for _id, (cid, kid) in rows.items():
        assert rows[kid][0] == cid


def test_repeated_near_dup_reuses_compiled_classes(spark, compiled_classes):
    """A second exact-Jaccard → ``canonical_docs`` pass over the same
    corpus finds every generated class in Spark's codegen cache. The
    corpus holds 4 chains of 6 docs, each one word off its predecessor,
    so components take several rounds. AQE is off in this session: AQE
    re-plans as each query stage finishes, and which side of a small join
    it broadcasts can depend on which stage finished first; a repeat run
    then compiles a few join classes of the other shape (0-8 seen per
    run), which is plan churn rather than cache eviction. With Spark's
    default 100-entry cache the second pass compiled 83 classes."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    texts = []
    for _ in range(4):
        words = [rng.choice(vocab) for _ in range(40)]
        for _ in range(6):
            texts.append(" ".join(words))
            words = list(words)
            words[rng.randrange(40)] = rng.choice(vocab)
    texts += [" ".join(rng.choice(vocab) for _ in range(40))
              for _ in range(30)]
    static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    docs = static.createDataFrame(list(enumerate(texts)),
                                  "doc_id long, text string")

    def resolve():
        before, stats = compiled_classes(), {}
        keep = D.canonical_docs(docs, D.ngram_jaccard_pairs(docs),
                                stats=stats).collect()
        keepers = sum(r["id"] == r["keeper_id"] for r in keep)
        return keepers, stats["rounds"], compiled_classes() - before

    assert resolve()[:2] == (34, 4)
    assert resolve() == (34, 4, 0)


def test_decontaminate_flags_ngram_overlap(spark):
    """A corpus doc is contaminated iff it shares an n-gram with the eval
    set; collisions count the distinct shared shingles; clean docs come
    out with collisions=0. Broadcast and shuffle paths agree."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e f"),          # contains eval 4-grams
         (2, "a b c d x y"),          # shares exactly one 4-gram
         (3, "p q r s t u"),          # clean
         (4, "c d e f g h")],         # shares "c d e f"
        ["doc_id", "text"])
    ev = spark.createDataFrame([("z z a b c d e f",)], ["text"])
    tele = {}
    res = D.decontaminate(corpus, ev, n=4, telemetry=tele)
    rows = {r["doc_id"]: (r["collisions"], r["contaminated"])
            for r in res.collect()}
    # eval 4-grams: {z z a b, z a b c, a b c d, b c d e, c d e f}
    assert rows == {1: (3, True), 2: (1, True), 3: (0, False),
                    4: (1, True)}
    obs = tele["contamination"].get
    assert obs["contaminated_docs"] == 3 and obs["docs"] == 4
    shuffled = D.decontaminate(corpus, ev, n=4, broadcast_eval=False)
    assert {tuple(r) for r in shuffled.collect()} == {
        tuple(r) for r in res.collect()}


def test_decontaminate_min_collisions_threshold(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d x y"), (2, "a b c d e f")], ["doc_id", "text"])
    ev = spark.createDataFrame([("a b c d e f",)], ["text"])
    res = {r["doc_id"]: r["contaminated"] for r in
           D.decontaminate(corpus, ev, n=4, min_collisions=2).collect()}
    assert res == {1: False, 2: True}


def test_repetition_stats(spark):
    """Gopher-style repetition metrics: top/duplicated 2-gram fractions
    computed over ALL occurrences (not distinct shingles); too-short docs
    come out 0.0/0.0/unflagged."""
    corpus = spark.createDataFrame(
        [(1, "buy now buy now buy now"),    # 'buy now' 3/5, dup 'now buy' 2
         (2, "a b c d e f"),                # all 2-grams unique
         (3, "x"),                          # too short for a 2-gram
         (4, "a b a b c a b")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in Q.repetition_stats(
        corpus, n=2, top_frac_threshold=0.5).collect()}
    # doc 1: grams = [buy now, now buy, buy now, now buy, buy now]
    r1 = rows[1]
    assert r1["total_ngrams"] == 5
    assert r1["top_ngram_frac"] == pytest.approx(3 / 5)
    assert r1["dup_ngram_frac"] == pytest.approx(1.0)
    assert bool(r1["repetitive"])
    # doc 2: 5 unique 2-grams
    r2 = rows[2]
    assert r2["total_ngrams"] == 5
    assert r2["top_ngram_frac"] == pytest.approx(1 / 5)
    assert r2["dup_ngram_frac"] == 0.0
    assert not r2["repetitive"]
    # doc 3: no 2-grams at all
    r3 = rows[3]
    assert (r3["total_ngrams"], r3["top_ngram_frac"],
            r3["dup_ngram_frac"], bool(r3["repetitive"])) == (0, 0.0,
                                                              0.0, False)
    # doc 4: grams = [a b, b a, a b, b c, c a, a b] -> 'a b' 3/6, dup 3/6
    r4 = rows[4]
    assert r4["total_ngrams"] == 6
    assert r4["top_ngram_frac"] == pytest.approx(0.5)
    assert r4["dup_ngram_frac"] == pytest.approx(0.5)
    assert not bool(r4["repetitive"])  # 0.5 not > 0.5


def test_stratified_sample_deterministic_cap(spark):
    from roddy_spark.operators import sampling as SA
    df = spark.createDataFrame(
        [(i, "big" if i < 40 else "small") for i in range(46)],
        ["doc_id", "source"])
    out = SA.stratified_sample(df, "source", k=5)
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    # head-heavy group capped at k; small group (6 docs) capped at 5 too
    assert len(by_src["big"]) == 5 and len(by_src["small"]) == 5
    # deterministic: same picks on a rerun and under different partitioning
    again = {r["doc_id"] for r in
             SA.stratified_sample(df.repartition(7), "source", k=5)
             .collect()}
    assert again == {r["doc_id"] for r in rows}
    # adding docs to OTHER groups never changes this group's picks
    grown = df.union(spark.createDataFrame(
        [(100 + i, "third") for i in range(10)], ["doc_id", "source"]))
    regrown = SA.stratified_sample(grown, "source", k=5)
    big_after = {r["doc_id"] for r in regrown.collect()
                 if r["source"] == "big"}
    assert big_after == by_src["big"]


def test_pii_scrub_counts_and_redaction(spark):
    rows = spark.createDataFrame(
        [(1, "mail me at a.b+c@ex-ample.org or x@y.io thanks"),
         (2, "server 192.168.0.1 and backup 10.0.0.2"),
         (3, "call +4915712345678 now"),
         (4, "clean text with no contact details"),
         (5, "a@b.co from 1.2.3.4 dial +12345678")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in rows.select(
        "doc_id",
        T.pii_email_count("text").alias("e"),
        T.pii_ipv4_count("text").alias("i"),
        T.pii_phone_count("text").alias("p"),
        T.scrub_pii("text").alias("s")).collect()}
    assert (got[1]["e"], got[1]["i"], got[1]["p"]) == (2, 0, 0)
    assert got[1]["s"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert (got[2]["e"], got[2]["i"]) == (0, 2)
    assert got[2]["s"] == "server <IP> and backup <IP>"
    assert (got[3]["p"], got[3]["s"]) == (1, "call <PHONE> now")
    assert (got[4]["e"], got[4]["i"], got[4]["p"]) == (0, 0, 0)
    assert got[4]["s"] == "clean text with no contact details"
    assert got[5]["s"] == "<EMAIL> from <IP> dial <PHONE>"


def test_repetition_stats_matches_python_reference(spark):
    """Seeded randomized batch: 200 docs of random tokens (vocab sized to
    force collisions) — every metric must equal a pure-Python Counter
    reference computed over the same tokenization."""
    import random
    from collections import Counter

    rng = random.Random(97531)
    docs = []
    for i in range(200):
        n_tok = rng.randint(0, 12)
        vocab = ["aa", "bb", "cc", "dd"][:rng.randint(1, 4)]
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n_tok))))

    def ref(text, n=2):
        toks = text.split()
        grams = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)
                 ] if len(toks) >= n else []
        total = len(grams)
        if not total:
            return (0, 0.0, 0.0)
        cnt = Counter(grams)
        top = max(cnt.values()) / total
        dup = sum(v for v in cnt.values() if v > 1) / total
        return (total, top, dup)

    got = {r["doc_id"]: r for r in Q.repetition_stats(
        spark.createDataFrame(docs, ["doc_id", "text"]), n=2).collect()}
    assert len(got) == 200
    for i, text in docs:
        total, top, dup = ref(text)
        r = got[i]
        assert r["total_ngrams"] == total, (i, text)
        assert r["top_ngram_frac"] == pytest.approx(top), (i, text)
        assert r["dup_ngram_frac"] == pytest.approx(dup), (i, text)


def test_lm_crossentropy_matches_python_reference(spark):
    """Seeded randomized batch scored against a pure-Python model: the
    reference slice trains an add-one-smoothed unigram LM truncated to
    the top-V (count DESC, token) entries; every doc's mean surprisal,
    token count, and threshold flag must match exactly. V is smaller
    than the true vocab so the OOV mass path is exercised."""
    import math
    import random
    from collections import Counter

    rng = random.Random(4242)
    vocab = [f"w{i:02d}" for i in range(40)]
    docs = []
    for i in range(120):
        n = rng.randint(0, 15)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    docs.append((120, None))            # null text scores as 0 tokens

    ref_docs = [d for d in docs if d[0] % 3 == 0]
    V = 10
    cnt = Counter(t for _, tx in ref_docs for t in (tx or "").split())
    model = dict(sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
    total, vs = sum(model.values()), len(model)

    def score(text):
        toks = (text or "").split()
        if not toks:
            return (0, 0.0, False)
        s = sum(math.log2(total + vs + 1) - math.log2(model.get(t, 0) + 1)
                for t in toks)
        x = round(s / len(toks), 4)
        return (len(toks), x, x > 5.0)

    sdocs = spark.createDataFrame(docs, ["doc_id", "text"])
    sref = sdocs.filter(F.col("doc_id") % 3 == 0)
    got = {r["doc_id"]: r for r in Q.lm_crossentropy(
        sdocs, sref, vocab_size=V, threshold=5.0).collect()}
    assert len(got) == 121
    for i, tx in docs:
        n, x, hi = score(tx)
        r = got[i]
        assert r["n_tokens"] == n, (i, tx)
        assert r["xent_bits"] == pytest.approx(x, abs=1e-9), (i, tx)
        assert bool(r["hi_perplexity"]) == hi, (i, tx)


def test_unigram_lm_truncation_deterministic(spark):
    """Vocab-cap ties break by token, so the retained model is identical
    at any parallelism (and matches DuckDB's ORDER BY ... LIMIT twin)."""
    ref = spark.createDataFrame(
        [(0, "bb aa cc aa bb cc dd")], ["doc_id", "text"])
    kept = sorted(r["token"] for r in
                  Q.unigram_lm(ref, vocab_size=3).collect())
    # aa/bb/cc all have count 2, dd has 1; cap 3 keeps the lexicographic
    # first three of the tied group
    assert kept == ["aa", "bb", "cc"]


def test_normalize_text_unicode(spark):
    rows = [
        (1, "café meets déjà vu"),   # NFC recompose
        (2, "a​b­c﻿d"),                 # zero-widths out
        (3, "x y z　w"),                 # spaces folded
        (4, "keep\ttabs\nand\rnewlines"),              # kept controls
        (5, "drop\x01bad\x1fctl\x7f"),                 # stripped controls
        (6, "plain ascii stays put"),
        (7, None),
    ]
    from roddy_spark.functions import text as T
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", T.normalize_text("text").alias("n")).collect()}
    assert got[1] == "café meets déjà vu"
    assert got[2] == "abcd"
    assert got[3] == "x y z w"
    assert got[4] == "keep\ttabs\nand\rnewlines"
    assert got[5] == "dropbadctl"
    assert got[6] == "plain ascii stays put"
    assert got[7] is None


def test_nb_quality_matches_python_reference(spark):
    """Contrastive NB log-odds vs a sequential model with the same
    truncation and smoothing; good/bad refs overlap deliberately."""
    import math
    import random
    from collections import Counter

    rng = random.Random(24680)
    vocab = [f"t{i:02d}" for i in range(30)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 12))))
            for i in range(100)]
    docs.append((100, None))            # null text scores as 0 tokens
    V = 8

    def model(rows):
        cnt = Counter(t for _, tx in rows for t in (tx or "").split())
        m = dict(sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
        return m, sum(m.values()), len(m)

    gm, gt, gv = model([d for d in docs if d[0] % 3 == 0])
    bm, bt, bv = model([d for d in docs if d[0] % 4 == 1])

    def score(text):
        toks = (text or "").split()
        if not toks:
            return (0, 0.0, False)
        s = sum((math.log2(gm.get(t, 0) + 1) - math.log2(gt + gv + 1))
                - (math.log2(bm.get(t, 0) + 1) - math.log2(bt + bv + 1))
                for t in toks)
        x = round(s / len(toks), 4)
        return (len(toks), x, x > 0.0)

    sdocs = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in Q.nb_quality_score(
        sdocs, sdocs.filter(F.col("doc_id") % 3 == 0),
        sdocs.filter(F.col("doc_id") % 4 == 1),
        vocab_size=V).collect()}
    assert len(got) == 101
    for i, tx in docs:
        n, x, good = score(tx)
        r = got[i]
        assert r["n_tokens"] == n, (i, tx)
        assert r["log_odds"] == pytest.approx(x, abs=1e-9), (i, tx)
        assert bool(r["good"]) == good, (i, tx)


def test_remove_duplicate_spans_handcrafted(spark):
    docs = spark.createDataFrame([
        (1, "a b c d e f g h"),
        (2, "x y a b c d z w"),   # interior copy of doc 1's span
        (3, "a b c d"),           # wholly duplicated -> emptied
        (4, "short text"),        # under k, untouched
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           D.remove_duplicate_spans(docs, k=4).collect()}
    assert (got[1]["text"], got[1]["n_removed"]) == ("a b c d e f g h", 0)
    assert (got[2]["text"], got[2]["n_removed"]) == ("x y z w", 4)
    assert (got[3]["text"], got[3]["n_removed"]) == ("", 4)
    assert (got[4]["text"], got[4]["n_removed"]) == ("short text", 0)


def test_remove_duplicate_spans_matches_python_reference(spark):
    """Randomized small-vocab corpus vs a sequential reference that
    replays first-occurrence span marking and interval scrubbing."""
    import random

    rng = random.Random(5318)
    vocab = ["aa", "bb", "cc"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 14))))
            for i in range(60)]
    K = 4

    first: dict[str, tuple[int, int]] = {}
    spans = {}
    for i, tx in docs:  # (doc, pos) order == iteration order
        toks = tx.split()
        spans[i] = []
        for p in range(len(toks) - K + 1):
            span = " ".join(toks[p:p + K])
            if span not in first:
                first[span] = (i, p)
            spans[i].append((p, span))
    expect = {}
    for i, tx in docs:
        toks = tx.split()
        covered = set()
        for p, span in spans[i]:
            if first[span] != (i, p):
                covered.update(range(p, p + K))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        expect[i] = (" ".join(kept), len(toks), len(toks) - len(kept))

    got = {r["doc_id"]: r for r in D.remove_duplicate_spans(
        spark.createDataFrame(docs, ["doc_id", "text"]), k=K).collect()}
    assert len(got) == 60
    for i in expect:
        r = got[i]
        assert (r["text"], r["n_tokens"], r["n_removed"]) == expect[i], i


def test_remove_duplicate_spans_hashed_path_identical(spark, sf_dir):
    """The hash_spans production path (VERDICT r6 item 3): the shuffle
    key is xxhash64(span) — a BIGINT in the exchange instead of the
    k-token string (~k× byte cut) — and the output is row-identical to
    the exact-string oracle path on real corpus data."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    exact = sorted(tuple(r) for r in
                   D.remove_duplicate_spans(docs, k=8).collect())
    hashed_df = D.remove_duplicate_spans(docs, k=8, hash_spans=True)
    hashed = sorted(tuple(r) for r in hashed_df.collect())
    assert hashed == exact
    p = hashed_df._jdf.queryExecution().simpleString()
    assert "xxhash64" in p, p


def test_gopher_line_stats(spark):
    docs = spark.createDataFrame([
        (1, "aaa\nbbb\naaa\nccc"),       # 1 dup line of 4; 3/12 chars
        (2, "one\ntwo\nthree"),           # no dups
        (3, "x\nx\nx\nx\nx\nyyyy"),       # heavy dup -> flagged
        (4, "  pad  \n\npad\nzz"),        # trim + empty-drop, pad==pad
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in Q.gopher_line_stats(docs).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == pytest.approx(0.25)
    assert got[1]["dup_char_frac"] == pytest.approx(3 / 12)
    # 0.25 duplicate-char fraction crosses the 0.20 Gopher char rule
    assert got[1]["line_repetitive"]
    assert got[2]["dup_line_frac"] == 0.0 and not got[2]["line_repetitive"]
    assert got[3]["n_lines"] == 6
    assert got[3]["dup_line_frac"] == pytest.approx(4 / 6)
    assert got[3]["line_repetitive"]
    assert got[4]["n_lines"] == 3
    assert got[4]["dup_line_frac"] == pytest.approx(1 / 3)


@pytest.mark.parametrize("start", [0, 7])
def test_ordered_seq_width_one_matches_range_path(spark, start):
    """Width 1 (the single window rank) and width 4 (range partition +
    per-partition offsets) give identical ``seq`` on rows that tie on all
    but the last order column, from any ``start``, and on empty input."""
    from roddy_spark.operators.rank import (ordered_seq,
                                            release_rank_caches)

    df = spark.range(0, 60).select(
        F.lit(1).alias("priority"), (F.col("id") % 3).alias("parent_seq"),
        (59 - F.col("id")).alias("pos"), F.col("id").alias("row"))
    order = ["priority", "parent_seq", "pos"]

    def seqs(frame, n):
        out = ordered_seq(frame, order, "seq", start=start,
                          num_partitions=n)
        got = sorted((r["row"], r["seq"]) for r in out.collect())
        release_rank_caches()
        return got

    one, four = seqs(df, 1), seqs(df, 4)
    assert one == four
    assert sorted(s for _, s in one) == list(range(start, start + 60))
    # the rank follows the ORDER BY, not the input order
    first = min(one, key=lambda t: t[1])[0]
    assert first == 57  # parent_seq 0 with the smallest pos
    empty = df.limit(0)
    assert seqs(empty, 1) == seqs(empty, 4) == []
