#!/usr/bin/env python
"""Per-batch profile of the crawl loop: engine calls, Spark jobs and
driver plan-building.

Builds a small synthetic web (``roddy_spark.sources.synthweb``), or reads
one from ``--pages DIR`` (a pages parquet), runs ``--warm`` unprofiled
crawls, then one ``Crawler.run`` of ``--batches`` micro-batches, and
prints one JSON line per batch (batch 0 is the seed write):

  calls   every engine call the loop makes, in order (snapshot writes and
          reads, ``admit``, ``politeness_flags``, ``split_flagged``, the
          fetcher, ``expand``, the bloom refresh): wall seconds and the
          Spark jobs it ran
  jobs    every Spark job of the batch from the status store: the call
          that ran it, its task count and its seconds
  plan_s  cProfile cumulative seconds inside ``admit``,
          ``politeness_flags``, ``fetch_join`` and ``expand``: the driver
          building their plans (at width 1 none of them runs a job)
  compiled    classes Spark's codegen compiled in the batch (a class
              found in the codegen cache is not compiled again)
  compile_s   seconds Janino spent compiling them

cProfile slows the driver down, so ``secs`` and the call seconds are
higher than in an unprofiled run; compare them only with each other.

Usage (from the repository root):
  python scripts/profile_crawl.py [--pages DIR] [--hosts 4] [--n-pages 400]
      [--batches 2] [--budget 10] [--depth 4] [--seeds-per-host 20]
      [--cores 4] [--warm 1]
"""

from __future__ import annotations

import argparse
import cProfile
import functools
import json
import os
import pstats
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# function name → defining module, whose cumulative time is plan-building
PLAN_FUNCS = {"admit": "roddy_spark/operators/admission.py",
              "politeness_flags": "roddy_spark/operators/politeness.py",
              "fetch_join": "roddy_spark/fetch.py",
              "expand": "roddy_spark/plans/crawl.py"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--pages", help="directory of a pages parquet; default: "
                   "a synthetic web of --hosts/--n-pages")
    p.add_argument("--hosts", type=int, default=4)
    p.add_argument("--n-pages", type=int, default=400)
    p.add_argument("--batches", type=int, default=2)
    p.add_argument("--budget", type=int, default=10,
                   help="per-host fetches per batch (0: no deferral)")
    p.add_argument("--depth", type=int, default=4)
    p.add_argument("--seeds-per-host", type=int, default=20)
    p.add_argument("--bloom", default="on", choices=("on", "off", "auto"))
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--warm", type=int, default=1,
                   help="unprofiled crawls run first")
    return p.parse_args(argv)


def _seeds(urls: list[str], hosts: list[str], per_host: int) -> list[str]:
    """Each host's root, then its first tree pages in URL order."""
    out = []
    for h in hosts:
        root = f"http://{h}/"
        deeper = sorted((u for u in urls if u.startswith(root + "p/")),
                        key=lambda u: int(u.rsplit("/", 1)[1]))
        out += [root] + deeper[:per_host - 1]
    return out


class Profiler:
    """Wraps the crawl loop's engine calls. Each call runs under its own
    Spark job group, so every job is attributed to the outermost wrapped
    call that ran it (a store write inside ``write_visited`` counts as
    the visited write); jobs outside any call stay in the batch's group.
    A batch ends at its manifest commit, where its record is printed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()
        self.n = 0
        self.inside = False
        self.group = None
        self.batch = 0
        self.calls: list[dict] = []
        self.patches: list[tuple[object, str, object]] = []
        self.prof = cProfile.Profile()
        self.t0 = time.perf_counter()
        jvm = spark._jvm
        self.compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                         .METRIC_COMPILATION_TIME())
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self.codegen = codegen.CodeGenerator
        self.codegen0 = self._codegen()

    def _codegen(self) -> tuple[int, int]:
        """(classes compiled, nanoseconds compiling) so far in the JVM."""
        return self.compiles.getCount(), self.codegen.compileTime()

    def _set_group(self, g: str) -> None:
        self.sc.setJobGroup(g, g)
        self.group = g

    def wrap(self, owner, name: str, label=None):
        real = getattr(owner, name)
        self.patches.append((owner, name, real))
        setattr(owner, name, self.wrapped(real, label or name))

    def wrapped(self, real, label):
        prof = self

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            if prof.inside:  # a nested call's jobs are its caller's
                return real(*args, **kwargs)
            name = label(args, kwargs) if callable(label) else label
            prev, prof.n = prof.group, prof.n + 1
            g = f"profile-call{prof.n}"
            prof._set_group(g)
            prof.inside = True
            t = time.perf_counter()
            try:
                return real(*args, **kwargs)
            finally:
                prof.inside = False
                prof.calls.append({"call": name, "group": g,
                                   "s": round(time.perf_counter() - t, 4)})
                prof._set_group(prev)
        return wrapper

    def start(self) -> None:
        self._set_group(f"profile-batch{self.batch}")
        self.t0 = time.perf_counter()
        self.codegen0 = self._codegen()
        self.prof = cProfile.Profile()
        self.prof.enable()

    def _job(self, jid: int, call: str) -> dict:
        jd = self.status.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        secs = ((comp.get().getTime() - sub.get().getTime()) / 1000
                if sub.isDefined() and comp.isDefined() else None)
        return {"job": jid, "call": call, "tasks": jd.numTasks(), "s": secs}

    def _ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def end(self, manifest: dict) -> None:
        """Close the batch the commit of ``manifest`` ends and print it."""
        self.prof.disable()
        secs = time.perf_counter() - self.t0
        compiled, compile_ns = (b - a for a, b in zip(self.codegen0,
                                                      self._codegen()))
        plan = dict.fromkeys(PLAN_FUNCS, 0.0)
        for (path, _, fn), row in pstats.Stats(self.prof).stats.items():
            if fn in PLAN_FUNCS and path.endswith(PLAN_FUNCS[fn]):
                plan[fn] += row[3]
        jobs = [self._job(j, "loop")
                for j in self._ids(f"profile-batch{self.batch}")]
        calls = []
        for c in self.calls:
            ids = self._ids(c.pop("group"))
            jobs += [self._job(j, c["call"]) for j in ids]
            calls.append({**c, "jobs": len(ids)})
        jobs.sort(key=lambda j: j["job"])
        print(json.dumps({
            "batch": self.batch, "secs": round(secs, 3), "jobs_total":
            len(jobs), "calls": calls, "jobs": jobs,
            "plan_s": {k: round(v, 4) for k, v in plan.items()},
            "compiled": compiled, "compile_s": round(compile_ns / 1e9, 4),
            "admitted": (manifest.get("batches") or [{}])[-1].get(
                "admitted") if self.batch else None}), flush=True)
        self.calls = []
        self.batch += 1

    def restore(self) -> None:
        self.prof.disable()
        for owner, name, real in reversed(self.patches):
            setattr(owner, name, real)
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def main(argv=None) -> None:
    args = _parse(argv)
    from roddy_spark.config import CrawlConfig
    from roddy_spark.fetch import fetch_join
    from roddy_spark.plans import crawl as C
    from roddy_spark.session import build_session
    from roddy_spark.sources.synthweb import WebConfig, synthweb_df

    spark = build_session(
        app_name="profile-crawl", cores=args.cores,
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="profile_crawl_")
    try:
        pages_dir = args.pages
        if pages_dir is None:
            pages_dir = os.path.join(work, "web")
            synthweb_df(spark, WebConfig(n_hosts=args.hosts,
                                         n_pages=args.n_pages),
                        partitions=2).write.parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
        listing = pages.select("url", "host").collect()
        seeds = _seeds([r["url"] for r in listing],
                       sorted({r["host"] for r in listing}),
                       args.seeds_per_host)
        config = CrawlConfig(max_depth=args.depth,
                             per_host_budget=args.budget,
                             disallowed_url_filters=(r"/list/",),
                             bloom_mode=args.bloom)

        def crawl(name, fetcher=fetch_join):
            return C.Crawler(spark, config, pages, os.path.join(work, name),
                             fetcher=fetcher,
                             max_batches=args.batches).run(seeds)

        for k in range(args.warm):
            crawl(f"warm{k}")

        prof = Profiler(spark)
        store = C.SnapshotStore
        for fn in ("admit", "politeness_flags", "split_flagged", "expand",
                   "refresh_visited_bloom"):
            prof.wrap(C, fn)
        prof.wrap(store, "write_visited", "write:visited")
        prof.wrap(store, "write", lambda a, kw: "write:" + kw.get(
            "table", a[2] if len(a) > 2 else "?"))
        prof.wrap(store, "read_visited", "read:visited")
        for m in ("read", "read_latest"):
            prof.wrap(store, m, lambda a, kw: "read:" + kw.get(
                "table", a[2] if len(a) > 2 else "?"))
        real_commit = store.commit_manifest

        def commit(self_, m):
            real_commit(self_, m)
            if not m.get("done"):  # the final flip ends no batch
                prof.end(m)
                prof.start()

        store.commit_manifest = commit
        prof.patches.append((store, "commit_manifest", real_commit))
        prof.start()
        try:
            crawl("profiled", prof.wrapped(fetch_join, "fetch_join"))
        finally:
            prof.restore()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
