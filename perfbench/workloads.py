"""The two closed-loop workloads. Each runs one operation at a time from
the driver and checks every output against a reference:

* ``crawl_bfs``: a ``Crawler.run`` capped at ``inputs.CRAWL_BATCHES``
  micro-batches (op = one crawl; samples = its micro-batches);
* ``level_clean``: the data-bound batch stages, one after the other (op =
  all three):

  - one fat frontier level, canonicalize → ``admit`` →
    ``politeness_split`` → ``fetch_join`` → ``expand`` → noop sink
    (``FrontierLevel``);
  - a pass over the document-cleaning contract leaves, then exact-Jaccard
    near-dup pairs → connected components → keepers (``CleanCorpus``).

``op(traced)`` returns a dict with ``samples`` (the op-latency samples,
seconds), ``items``/``item_wall`` (work done and the wall time it took),
``waits`` (per-item waits, seconds) and ``wall``; traced ops add
``layers``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext

from perfbench import inputs as I
from perfbench import stats as S
from perfbench.reference import CHECKSUM_BITS, same_result
from perfbench.trace import tree_cpu


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    # per-layer metric names → unit
    layers: dict[str, str] = {}

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        # the session is rebuilt between set-ups: always the current one
        return self.ctx.spark

    def generate(self):
        """Make (or load from the cache) the seed's inputs: no Spark."""

    def prepare(self):
        """Open the inputs in Spark."""

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.ctx.log(f"CHECK FAILED [{self.name}]: {what}")
        return self.ctx.tally.record(ok)

    def guarded(self, fn, *args) -> bool:
        """Run ``fn``; an exception counts as a failed operation and the
        run goes on. Returns whether ``fn`` completed."""
        try:
            fn(*args)
            return True
        except Exception:  # noqa: BLE001 - op boundary: record and go on
            self.ctx.log(traceback.format_exc())
            self.ctx.tally.record(False)
            return False

    def guarded_op(self, traced: bool):
        """One measured operation; None when it raised (counted failed)."""
        try:
            return self.op(traced)
        except Exception:  # noqa: BLE001 - op boundary: record and go on
            self.ctx.log(traceback.format_exc())
            self.ctx.tally.record(False)
            return None

    @contextmanager
    def stage(self, name: str, traced: bool):
        """Times a block into ``box["s"]``; traced runs also record it as
        a span."""
        box = {}
        t = time.perf_counter()
        with self.ctx.tracer.span(name) if traced else nullcontext():
            yield box
        box["s"] = time.perf_counter() - t


# ---------------------------------------------------------------------------
class CrawlBfs(Workload):
    name = "crawl_bfs"
    layers = {
        "crawl.admit_s": "s", "crawl.visited_write_s": "s",
        "crawl.pending_write_s": "s", "crawl.fetch_write_s": "s",
        "crawl.metrics_write_s": "s", "crawl.expand_write_s": "s",
        "crawl.bloom_s": "s", "crawl.read_s": "s", "crawl.commit_s": "s",
        "crawl.other_s": "s", "crawl.batch_interval_s": "s",
        "crawl.jobs_per_batch": "count", "crawl.py_cpu_s": "s",
        "crawl.jvm_cpu_s": "s", "crawl.admit_yield": "share",
        "crawl.deferred_share": "share", "crawl.fetch_wait_tail_s": "s",
    }
    _SPAN_LAYER = {"admit": "crawl.admit_s", "visited_write":
                   "crawl.visited_write_s", "pending_write":
                   "crawl.pending_write_s", "fetch_write":
                   "crawl.fetch_write_s", "metrics_write":
                   "crawl.metrics_write_s", "expand_write":
                   "crawl.expand_write_s", "bloom": "crawl.bloom_s",
                   "read": "crawl.read_s", "commit": "crawl.commit_s"}
    _TABLE_SPAN = {"visited": "visited_write", "pending": "pending_write",
                   "fetches": "fetch_write", "metrics": "metrics_write",
                   "candidates": "expand_write"}

    def generate(self):
        self.inp = I.crawl_inputs(self.ctx.cache, self.ctx.seed)

    def prepare(self):
        self.pages = self.spark.read.parquet(
            os.path.join(self.inp["web"], "pages.parquet"))
        self.config = I.crawl_config()
        self.n_ops = 0

    def _crawl(self, max_batches: int = I.CRAWL_BATCHES):
        from roddy_spark.plans.crawl import Crawler
        self.n_ops += 1
        ckpt = os.path.join(self.ctx.work, f"crawl{self.n_ops}")
        crawler = Crawler(self.spark, self.config, self.pages, ckpt,
                          max_batches=max_batches)
        t0 = time.perf_counter()
        state = crawler.run(self.inp["seeds"])
        return state, time.perf_counter() - t0, ckpt

    def warm(self):
        """One cold one-batch crawl: admission, deferral, fetch, extract
        and every snapshot write of the loop run once before timing."""
        state, _, ckpt = self._crawl(max_batches=1)
        shutil.rmtree(ckpt, ignore_errors=True)
        self.ctx.log(f"warm crawl batches {[b['secs'] for b in state.batches]}")

    def op(self, traced: bool):
        hooks = _CrawlHooks(self) if traced else None
        try:
            state, wall, ckpt = self._crawl()
        finally:
            if hooks:
                hooks.close()
        try:
            out = self._verify(state, ckpt)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        secs = [b["secs"] for b in state.batches]
        res = {"samples": secs, "items": out["fetched"], "item_wall": wall,
               "waits": out["waits"], "wall": wall}
        if hooks:
            res["layers"] = hooks.layers(state)
            res["layers"]["crawl.fetch_wait_tail_s"] = S.tail(out["waits"])[1]
        return res

    def _verify(self, state, ckpt):
        from roddy_spark.plans.crawl import SnapshotStore
        store = SnapshotStore(ckpt)
        visited = store.read(self.spark, "visited").select(
            "url_norm", "depth", "seq", "batch").collect()
        fetches = store.read(self.spark, "fetches").select(
            "url_norm", "host", "batch").collect()
        got = sorted(([r["url_norm"], r["depth"], r["seq"]] for r in visited),
                     key=lambda t: t[2])
        self.check(got == self.inp["order"],
                   "(url, depth, seq) differs from the oracle")
        self.check(len(fetches) == self.inp["fetched"],
                   f"fetched {len(fetches)} vs oracle {self.inp['fetched']}")
        per_host: dict = {}
        for r in fetches:
            k = (r["batch"], r["host"])
            per_host[k] = per_host.get(k, 0) + 1
        self.check(max(per_host.values()) <= self.config.per_host_budget,
                   "per-host budget exceeded")
        secs = {b["batch"]: b["secs"] for b in state.batches}
        waits = S.fetch_waits({r["url_norm"]: r["batch"] for r in visited},
                              {r["url_norm"]: r["batch"] for r in fetches},
                              secs)
        return {"fetched": len(fetches), "waits": waits}


class _CrawlHooks:
    """Spans around the crawl loop's calls into the engine. Batch
    boundaries are the manifest commits; each batch gets its own job
    group and process-tree CPU reading."""

    def __init__(self, wl: CrawlBfs):
        self.wl = wl
        ctx = wl.ctx
        self.tracer = t = ctx.tracer
        self.marks: list[tuple[float, tuple[float, float], dict]] = []
        self.prefix = f"crawl{wl.n_ops + 1}"
        store = "roddy_spark.plans.crawl"
        t.wrap(store, "admit", "admit")
        t.wrap(store, "SnapshotStore.write_visited", "visited_write")
        t.wrap(store, "SnapshotStore.write",
               lambda a, kw: CrawlBfs._TABLE_SPAN.get(
                   kw.get("table", a[2] if len(a) > 2 else ""),
                   "other_write"))
        for m in ("read", "read_visited", "read_latest"):
            t.wrap(store, f"SnapshotStore.{m}", "read")
        t.wrap(store, "SnapshotStore.commit_manifest", "commit",
               after=self._committed)
        t.wrap("roddy_spark.operators.dedup", "build_visited_bloom", "bloom")
        t.wrap("roddy_spark.operators.dedup", "ShardedBloom.add", "bloom")
        t.wrap("roddy_spark.operators.dedup", "ShardedBloom.merge", "bloom")

    def _committed(self, _result, args, kwargs):
        m = kwargs.get("m", args[1] if len(args) > 1 else {})
        now = time.perf_counter()
        # deep copy: the engine keeps appending to the manifest's lists
        self.marks.append((now, tree_cpu(self.wl.ctx.jvm_pid),
                           json.loads(json.dumps(m))))
        self.tracer.set_group(f"{self.prefix}-b{len(self.marks)}")

    def close(self):
        self.tracer.restore()
        self.tracer.set_group(None)

    def layers(self, state) -> dict:
        per: dict[str, list[float]] = {k: [] for k in CrawlBfs.layers}
        prev_pending = 0
        batch_marks = [m for m in self.marks if not m[2].get("done")]
        for k in range(1, len(batch_marks)):
            (t0, cpu0, _), (t1, cpu1, m) = batch_marks[k - 1], batch_marks[k]
            spans = self.tracer.top_level(t0, t1)
            for name, layer in CrawlBfs._SPAN_LAYER.items():
                per[layer].append(sum(s["end"] - s["start"] for s in spans
                                      if s["name"] == name))
            per["crawl.other_s"].append(S.self_time(
                t0, t1, [(s["start"], s["end"]) for s in spans]))
            per["crawl.batch_interval_s"].append(t1 - t0)
            per["crawl.jobs_per_batch"].append(
                len(self.tracer.job_ids(f"{self.prefix}-b{k}")))
            per["crawl.jvm_cpu_s"].append(cpu1[0] - cpu0[0])
            per["crawl.py_cpu_s"].append(cpu1[1] - cpu0[1])
            b = m["batches"][-1]
            if b["candidates"]:
                per["crawl.admit_yield"].append(b["admitted"] / b["candidates"])
            pool = prev_pending + b["admitted"]
            if pool:
                per["crawl.deferred_share"].append(m["pending_n"] / pool)
            prev_pending = m["pending_n"]
        return {k: _median(v) for k, v in per.items()
                if k != "crawl.fetch_wait_tail_s"}


# ---------------------------------------------------------------------------
class FrontierLevel(Workload):
    """The level half of ``level_clean``."""
    name = "frontier_level"
    layers = {
        "level.canonicalize_s": "s", "level.admit_s": "s",
        "level.politeness_s": "s", "level.fetch_s": "s",
        "level.expand_s": "s", "level.plan_s": "s", "level.jobs": "count",
        "level.shuffle_write_mb": "MB", "level.py_cpu_s": "s",
        "level.jvm_cpu_s": "s", "level.dedup_drop_share": "share",
    }

    def generate(self):
        self.inp = I.level_inputs(self.ctx.cache, self.ctx.seed)

    def prepare(self):
        from pyspark.sql import functions as F

        from roddy_spark.functions import urls as U
        read = self.spark.read.parquet
        self.pages = read(os.path.join(self.inp["web"], "pages.parquet"))
        self.raw = read(os.path.join(self.inp["dir"], "candidates.parquet")
                        ).withColumn("ctx", F.create_map().cast(
                            "map<string,string>"))
        self.visited = read(os.path.join(self.inp["dir"], "visited.parquet")
                            ).select(U.hash_of("url").alias("url_hash"))
        self.config = I.level_config()
        self.n_ops = 0

    def op(self, traced: bool):
        """One checked level; returns its ``wall`` (and ``layers``)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from roddy_spark.fetch import fetch_join
        from roddy_spark.functions import urls as U
        from roddy_spark.operators.admission import admit
        from roddy_spark.operators.politeness import politeness_split
        from roddy_spark.operators.rank import release_rank_caches
        from roddy_spark.plans.crawl import expand

        self.n_ops += 1
        tr, cfg, exp = self.ctx.tracer, self.config, self.inp
        group = f"level{self.n_ops}"
        held, counts, layers = [], {}, {}
        plan = [0.0]

        def stage(name, build, plans=True):
            """``build()`` makes the stage's DataFrame. Traced, the output
            is persisted and counted here, so the stage runs alone."""
            t = time.perf_counter()
            df = build()
            if plans:
                plan[0] += time.perf_counter() - t
            if traced:
                df = df.persist()
                held.append(df)
                with tr.span(name):
                    counts[name] = df.count()
                layers[f"level.{name}_s"] = time.perf_counter() - t
            return df

        obs = Observation(group)
        cpu0 = tree_cpu(self.ctx.jvm_pid) if traced else None
        t0 = time.perf_counter()
        with tr.group(group) if traced else nullcontext():
            cand = stage("canonicalize", lambda: self.raw.withColumn(
                "url_norm", U.canonicalize("raw_url")).filter(
                F.col("url_norm").isNotNull()).drop("raw_url"))
            # admit runs its ordering jobs at call time: not plan time
            admitted = stage("admit", lambda: admit(
                cand, cfg, self.visited, None, None, 0), plans=False)
            # the fetch reads to_fetch in several plan branches
            to_fetch = stage("politeness", lambda: politeness_split(
                admitted, cfg.per_host_budget, cfg.salt_buckets)[0])
            if not traced:
                to_fetch = to_fetch.persist()
                held.append(to_fetch)
            fetched = stage("fetch", lambda: fetch_join(
                to_fetch, self.pages, frontier_rows=exp["admitted"]
            ).withColumn("batch", F.lit(1)))

            def children():
                kids = expand(fetched)
                key = F.concat_ws("|", "url_norm", *[
                    F.col(c).cast("string") for c in
                    ("depth", "priority", "pos")])
                term = F.xxhash64(key).bitwiseAND(CHECKSUM_BITS)
                return kids.observe(
                    obs, F.count(F.lit(1)).alias("n"),
                    F.sum(term * (F.col("parent_seq") + 1))
                    .alias("checksum"))

            with tr.span("expand") if traced else nullcontext():
                t = time.perf_counter()
                kids = children()
                plan[0] += time.perf_counter() - t
                kids.write.format("noop").mode("overwrite").save()
            if traced:
                layers["level.expand_s"] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        for df in held:
            df.unpersist()
        release_rank_caches()

        got = obs.get
        self.check((got["n"], got["checksum"]) ==
                   (exp["children"], exp["checksum"]),
                   f"children (n, checksum) ({got['n']}, {got['checksum']}) "
                   f"vs ({exp['children']}, {exp['checksum']})")
        res = {"wall": wall}
        if traced:
            cpu1 = tree_cpu(self.ctx.jvm_pid)
            self.check(counts["admit"] == exp["admitted"],
                       f"admitted {counts['admit']} vs {exp['admitted']}")
            shuffle = tr.shuffle_write_bytes(group)
            if shuffle is None:
                tr.unmeasured.add("level.shuffle_write_mb")
            layers.update({
                "level.plan_s": plan[0],
                "level.jobs": len(tr.job_ids(group)),
                "level.shuffle_write_mb": (shuffle or 0) / (1 << 20),
                "level.jvm_cpu_s": cpu1[0] - cpu0[0],
                "level.py_cpu_s": cpu1[1] - cpu0[1],
                "level.dedup_drop_share":
                    1 - counts["admit"] / counts["canonicalize"],
            })
            res["layers"] = layers
        return res


# ---------------------------------------------------------------------------
# Document-cleaning contract leaves the workload times: each reads only the
# generated ``documents`` table and has a DuckDB twin. (dedup_clusters, a
# connected-components fixpoint with 40 jobs, is left out: canonical_docs
# measures the same fixpoint in the near-dup resolution.)
LEAVES = ("dedup_exact",)


class CleanCorpus(Workload):
    """The cleaning half of ``level_clean``."""
    name = "clean_corpus"
    layers = {
        **{f"q.{q}_s": "s" for q in LEAVES},
        **{f"q.{q}_jobs": "count" for q in LEAVES},
        "neardup.jaccard_s": "s", "neardup.candidates": "count",
        "neardup.candidates_per_pair": "share", "neardup.cc_s": "s",
        "neardup.cc_rounds": "count", "neardup.cc_jobs": "count",
    }

    def generate(self):
        self.inp = I.clean_inputs(self.ctx.cache, self.ctx.seed)
        self.twins = self._twins()

    def prepare(self):
        self.docs = self.spark.read.parquet(
            os.path.join(self.inp["dir"], "neardup.parquet"))
        self.n_ops = 0

    def _twins(self) -> dict:
        """Each leaf's DuckDB twin over the same ``documents`` file:
        (columns, rows), computed once per run."""
        import duckdb

        from roddy_spark.plans import contract
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{self.inp['dir']}/documents.parquet')")
            out = {}
            for q in LEAVES:
                res = con.execute(contract.ORACLES[q])
                out[q] = ([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def _neardup(self, traced: bool = False) -> dict:
        from pyspark.sql import functions as F

        from roddy_spark.operators.textdedup import (canonical_docs,
                                                     ngram_jaccard_pairs)
        self.n_ops += 1
        tr = self.ctx.tracer
        group = f"neardup{self.n_ops}"
        telemetry, cc_stats = {}, {}
        t0 = time.perf_counter()
        with self.stage("neardup.jaccard_s", traced) as jac:
            pairs = ngram_jaccard_pairs(self.docs,
                                        telemetry=telemetry).persist()
            n_pairs = pairs.count()
        with self.stage("neardup.cc_s", traced) as cc, \
                tr.group(group) if traced else nullcontext():
            keep = canonical_docs(self.docs, pairs, stats=cc_stats)
            n_keep = keep.filter(F.col("id") == F.col("keeper_id")).count()
        wall = time.perf_counter() - t0
        pairs.unpersist()
        out = {"wall": wall, "pairs": n_pairs, "keepers": n_keep}
        if traced:
            cands = int(telemetry["candidates"].get["candidates"])
            out["layers"] = {
                "neardup.jaccard_s": jac["s"],
                "neardup.cc_s": cc["s"],
                "neardup.candidates": cands,
                "neardup.candidates_per_pair": cands / max(n_pairs, 1),
                "neardup.cc_rounds": cc_stats.get("rounds", 0),
                "neardup.cc_jobs": len(tr.job_ids(group)),
            }
        return out

    def _pass(self, traced: bool) -> tuple[list[float], dict]:
        """Each leaf collected (timed), then compared with its DuckDB
        twin the way ``tests/test_contract.py`` compares them."""
        from roddy_spark.plans import contract
        tr = self.ctx.tracer
        layers, times = {}, []
        for q in LEAVES:
            group = f"q{self.n_ops}-{q}"
            got = {}

            def run(q=q):
                sdf = contract.QUERIES[q](self.spark, self.inp["dir"])
                got["cols"], got["rows"] = sdf.columns, [
                    tuple(r) for r in sdf.collect()]
            with self.stage(f"q.{q}_s", traced) as st, \
                    tr.group(group) if traced else nullcontext():
                ok = self.guarded(run)
            if ok:
                why = same_result(got["cols"], got["rows"], *self.twins[q])
                self.check(why is None, f"leaf {q}: {why}")
                times.append(st["s"])
            if traced:
                layers[f"q.{q}_s"] = st["s"]
                layers[f"q.{q}_jobs"] = len(tr.job_ids(group))
        return times, layers

    def op(self, traced: bool):
        """One leaf pass, then one checked near-dup resolution; returns
        ``leaf_s`` (a leaf that raised is missing from it and counted
        failed), ``neardup_s`` (and ``layers``)."""
        leaf_s, layers = self._pass(traced)
        nd = self._neardup(traced)
        exp = self.inp
        self.check((nd["pairs"], nd["keepers"]) ==
                   (exp["pairs"], exp["keepers"]),
                   f"near-dup (pairs, keepers) ({nd['pairs']}, "
                   f"{nd['keepers']}) vs ({exp['pairs']}, {exp['keepers']})")
        res = {"leaf_s": sum(leaf_s), "neardup_s": nd["wall"]}
        if traced:
            res["layers"] = {**layers, **nd["layers"]}
        return res


# ---------------------------------------------------------------------------
class LevelClean(Workload):
    """A frontier level, then the cleaning leaves and the near-dup
    resolution. A record waits from the op's start until the stage that
    consumes it has finished: candidates the level, leaf documents the
    leaf pass, corpus documents the near-dup resolution (the op's end)."""
    name = "level_clean"
    layers = {**FrontierLevel.layers, **CleanCorpus.layers}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.level, self.clean = FrontierLevel(ctx), CleanCorpus(ctx)

    def generate(self):
        self.level.generate()
        self.clean.generate()

    def prepare(self):
        self.level.prepare()
        self.clean.prepare()

    def warm(self):
        """One checked op, cold."""
        self.ctx.log(f"warm op {self.op(False)['wall']:.3f}s")

    def op(self, traced: bool):
        lv = self.level.op(traced)
        cl = self.clean.op(traced)
        level_s, leaf_s = lv["wall"], lv["wall"] + cl["leaf_s"]
        wall = leaf_s + cl["neardup_s"]
        n_cand = self.level.inp["candidates"]
        n_docs, n_corpus = I.DOCS_N, self.clean.inp["docs"]
        res = {"samples": [wall], "items": n_cand + n_docs + n_corpus,
               "item_wall": wall, "wall": wall,
               "waits": [level_s] * n_cand + [leaf_s] * n_docs
               + [wall] * n_corpus}
        if traced:
            res["layers"] = {**lv["layers"], **cl["layers"]}
        return res


WORKLOADS = {w.name: w for w in (CrawlBfs, LevelClean)}
