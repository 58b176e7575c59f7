"""Embedding similarity search: brute-force cosine top-k (the exact
baseline) and an LSH-bucketed approximate variant (the scale path), plus
cosine near-duplicate pairs.

Scale notes:
  * brute force is exact and embarrassingly parallel but O(|Q|·|C|): fine
    when the query side is small enough to broadcast (the planner does —
    check for BroadcastNestedLoopJoin/BroadcastExchange in .explain);
  * the LSH variant buckets by random-hyperplane sign bits so each query
    only meets candidates sharing a bucket — one equi-join shuffle instead
    of a full cross product; recall is tested against brute force;
  * dot products use ``F.zip_with`` + ``F.aggregate`` (JVM-side, no Python);
    norms are precomputed once per side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from roddy_spark.operators.textdedup import _observe_candidates


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine for each query vector. Query side is
    broadcast; ties broken by neighbor id (determinism). Norms are
    computed once per SIDE before the join (r7): each candidate pair
    then pays one dot product instead of three array passes — the same
    doubles in the same division, so scores are bit-identical."""
    q = _side(queries, "q", id_col, vec_col)
    c = _side(corpus, "n", id_col, vec_col)
    return _top_k(c.join(F.broadcast(q)).select("qid", "nid", _sim()), k)


def _side(df: DataFrame, p: str, id_col: str, vec_col: str,
          *extra: Column) -> DataFrame:
    """One side of a search, ``p`` = "q" (queries) or "n" (neighbors):
    (pid, pv, pn) = id, vector and its norm, plus ``extra`` columns. The
    norm is computed once per row, so a candidate pair pays one dot
    product (``_sim``), not three array passes."""
    return df.select(F.col(id_col).alias(f"{p}id"),
                     F.col(vec_col).alias(f"{p}v"),
                     _norm(F.col(vec_col)).alias(f"{p}n"), *extra)


def _sim() -> Column:
    """Cosine ``sim`` of a (query, neighbor) row from the per-side norms."""
    return (_dot(F.col("qv"), F.col("nv"))
            / (F.col("qn") * F.col("nn"))).alias("sim")


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The rank tail of every top-k search: per query, the ``k`` best
    (qid, nid, sim) rows by sim, ties broken by neighbor id
    (determinism)."""
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "rank", F.round("sim", 4).alias("sim")))


def _bucket_topk(c: DataFrame, q: DataFrame, key: str, k: int,
                 telemetry: dict | None) -> DataFrame:
    """The scoring step of the bucketed searches: corpus rows
    (nid, nv, nn, key) meet the broadcast query rows (qid, qv, qn, key)
    on ``key``; a pair sharing several keys is scored once. The
    candidate count is observed, then ranked."""
    scored = (c.join(F.broadcast(q), key).select("qid", "nid", _sim())
              .dropDuplicates(["qid", "nid"]))
    return _top_k(_observe_candidates(scored, telemetry), k)


def _plane_coef(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    md5-derived (the same h32 formula as functions.text.h32, evaluated
    driver-side because the inputs are literals)."""
    import hashlib
    h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
    return ((h % 2001) - 1000) / 1000.0


def _lit_doubles(vals) -> Column:
    """Literal array<double> built as ONE parsed SQL expression instead
    of per-element ``F.lit`` calls (r7): constructing a 64-coefficient
    array column costs one py4j round-trip instead of ~130, which was
    the dominant cost of BUILDING the LSH/IVF query plans (~1 s of
    driver-side py4j before any job ran). ``repr`` round-trips IEEE
    doubles exactly through the SQL parser, so the literal values — and
    therefore every projection, bucket, and candidate — are
    bit-identical to the per-element form."""
    return F.expr("array(" + ",".join(repr(float(v)) + "D"
                                      for v in vals) + ")")


def _lsh_bits(vec: Column, dim: int, n_planes: int) -> Column:
    """Random-hyperplane signature: bit p = sign of <vec, plane_p>. The
    projection is a single zip_with/aggregate against a literal coefficient
    array per plane (JVM-side, no Python at execution time)."""
    bits = F.lit(0).cast("long")
    for p in range(n_planes):
        coef = _lit_doubles(_plane_coef(p, d) for d in range(dim))
        proj = F.aggregate(F.zip_with(vec, coef, lambda x, c: x * c),
                           F.lit(0.0), lambda acc, v: acc + v)
        bits = bits + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bits


def _probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """Multi-probe LSH XOR masks: the exact bucket plus every bucket within
    ``probe_bits`` sign-bit flips."""
    from itertools import combinations
    masks = [0]
    if probe_bits >= 1:
        masks += [1 << p for p in range(n_planes)]
    if probe_bits >= 2:
        masks += [(1 << p) | (1 << q)
                  for p, q in combinations(range(n_planes), 2)]
    return masks


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
             n_planes: int = 8, dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding", probe_bits: int = 2,
             telemetry: dict | None = None) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane-sign bucket (or a
    bucket within ``probe_bits`` flips — multi-probe LSH); exact cosine
    re-ranks within candidates. One equi-join on bucket instead of a cross
    product. Recall is high for genuinely-similar neighbors (cosine ≳ 0.8);
    for weakly-similar data the probe set bounds the scanned fraction at
    ~(1 + C(n,1) + C(n,2))/2^n of the corpus."""
    sig = _lsh_bits(F.col(vec_col), dim, n_planes)
    c = _side(corpus, "n", id_col, vec_col, sig.alias("bucket"))
    q = _side(queries, "q", id_col, vec_col, sig.alias("sig"))
    # probe the exact bucket plus all ≤probe_bits-flip neighbors
    masks = _probe_masks(n_planes, probe_bits)
    probes = F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
    qp = q.select("qid", "qv", "qn", F.explode(probes).alias("bucket"))
    return _bucket_topk(c, qp, "bucket", k, telemetry)


def _kmeans_centroids(df: DataFrame, n_centroids: int, dim: int,
                      vec_col: str, sample_rows: int = 2048,
                      iters: int = 8, seed: int = 42):
    """Driver-side seeded k-means on a bounded sample (collect is capped at
    ``sample_rows`` regardless of corpus size — scale-safe). Returns a
    (n_centroids, dim) numpy array of L2-normalized centroids."""
    import numpy as np
    sample = np.array(df.select(vec_col).limit(sample_rows)
                      .toPandas()[vec_col].to_list(), dtype=np.float64)
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                         1e-12)
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)),
                             replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ cent.T, axis=1)  # cosine on unit vectors
        for c in range(len(cent)):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def _nearest_centroids(vec: Column, cent, n_probe: int) -> Column:
    """Array of the ``n_probe`` centroid ids nearest to ``vec`` (by dot
    product against literal centroid arrays — JVM-side, no Python at
    execution time; same literal-coefficient trick as the LSH planes)."""
    scored = F.array(*[
        F.struct(
            F.aggregate(F.zip_with(vec, _lit_doubles(c),
                                   lambda a, b: a * b),
                        F.lit(0.0), lambda acc, v: acc + v).alias("dot"),
            F.lit(i).alias("cid"))
        for i, c in enumerate(cent)])
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(top, lambda s: s["cid"])


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
             n_centroids: int = 8, n_probe: int = 2, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample_rows: int = 2048,
             telemetry: dict | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer twin of
    ``lsh_topk``: a bounded-sample seeded k-means learns ``n_centroids``
    cells driver-side; every corpus vector is assigned to its nearest cell
    (one JVM-side argmax, no Python); each query probes its ``n_probe``
    nearest cells, so candidates come from ONE equi-join on cell id —
    scanned fraction ≈ n_probe/n_centroids of the corpus instead of a cross
    product. Exact cosine re-ranks candidates. With n_probe == n_centroids
    the scan is exhaustive and the result EQUALS brute force (that mode is
    DuckDB-oracled as ``ann_ivf_topk``); partial probing is covered by a
    recall-vs-brute-force test."""
    cent = _kmeans_centroids(corpus, n_centroids, dim, vec_col, sample_rows)
    c = _side(corpus, "n", id_col, vec_col, F.element_at(
        _nearest_centroids(F.col(vec_col), cent, 1), 1).alias("cell"))
    q = _side(queries, "q", id_col, vec_col, F.explode(_nearest_centroids(
        F.col(vec_col), cent, min(n_probe, len(cent)))).alias("cell"))
    return _bucket_topk(c, q, "cell", k, telemetry)


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.99,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_planes: int = 8, dim: int = 64,
                          probe_bits: int = 2,
                          telemetry: dict | None = None) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold) via multi-probe
    LSH bucketing: side A explodes to every bucket within ``probe_bits``
    sign-bit flips of its own, so a genuine near-dup pair whose vectors
    straddle up to ``probe_bits`` hyperplanes still meets in a bucket (a
    single exact-bucket match would silently miss it). Verification is
    exact cosine; the probe explosion bounds candidates at
    ~(1+C(n,1)+C(n,2))/2^n of the all-pairs space. Analytical recall at
    n_planes=8, probe_bits=2: ≥0.96 for cosine ≥0.95, ≥0.98 at 0.99
    (pinned empirically vs brute force in test_pipeline_ops).
    Returns (id_a, id_b, sim)."""
    sig = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                    _norm(F.col(vec_col)).alias("nrm"),
                    _lsh_bits(F.col(vec_col), dim, n_planes).alias("sig"))
    masks = _probe_masks(n_planes, probe_bits)
    probes = F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
    a = (sig.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"),
                    F.explode(probes).alias("bucket")))
    b = sig.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"), F.col("sig").alias("bucket"))
    cand = (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # per-side norms ride the signature frame (r7): each candidate pair
    # pays one dot product instead of three array passes — identical
    # doubles in the identical division, so scores are bit-identical
    return (_observe_candidates(cand, telemetry)
            .withColumn("sim", _dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", F.round("sim", 4).alias("sim")))
