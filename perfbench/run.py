"""Benchmark runner: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 8 \
        --trace 0

Run from the root of a checkout. It generates (and caches, per seed) the
workload's inputs under ``.perfbench-work/cache``, sets up a ``local[N]``
session on all cores ``SETUPS`` times (the cold start, then rebuilds of
the session in the same JVM), warms up, then runs operations back to back
until ``--seconds`` have passed and at least ``MIN_OPS`` have run (the
last one finishes). Every output is checked against a reference. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
# set-ups per run: setup_s is their median
SETUPS = 5
# operations per measuring window, at least: the figures are medians
MIN_OPS = 2


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Ctx:
    """What a workload needs: the session, tracer, seed, directories,
    the failure tally and a log."""

    def __init__(self, spark, seed, work, cache):
        from perfbench.stats import Tally
        self.seed, self.work, self.cache = seed, work, cache
        self.tally = Tally()
        self.bind(spark)

    def bind(self, spark) -> None:
        """Use a (re)built session."""
        from perfbench.session import jvm_pid
        from perfbench.trace import Tracer
        self.spark = spark
        self.tracer = Tracer(spark)
        self.jvm_pid = jvm_pid(spark)

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def _window(wl, seconds: float, traced: bool, min_ops: int) -> list[dict]:
    """Operations back to back until ``seconds`` have passed and
    ``min_ops`` have completed."""
    from perfbench.trace import tree_cpu
    ops, t0 = [], time.perf_counter()
    while len(ops) < min_ops or time.perf_counter() - t0 < seconds:
        n_failed = wl.ctx.tally.failed
        cpu0, t = tree_cpu(wl.ctx.jvm_pid), time.perf_counter()
        op = wl.guarded_op(traced)
        cpu1, t = tree_cpu(wl.ctx.jvm_pid), time.perf_counter() - t
        if op is not None:
            ops.append(op)
            wl.ctx.log(f"op {len(ops)}: wall {op['wall']:.3f}s (with its "
                       f"checks {t:.3f}s), CPU "
                       f"{cpu1[0] - cpu0[0]:.2f}s JVM + "
                       f"{cpu1[1] - cpu0[1]:.2f}s Python")
        elif wl.ctx.tally.failed == n_failed:
            break
    return ops


def end_to_end(ops: list[dict], setups: list[float]) -> dict:
    """Latency samples pooled over the ops; throughput and the wait
    percentiles per op, then their median over the ops."""
    from perfbench.stats import tail
    med = statistics.median
    return {
        "setup_s": (med(setups), "s"),
        "op_p50_s": (med(s for op in ops for s in op["samples"]), "s"),
        "throughput_per_s": (med(op["items"] / op["item_wall"]
                                 for op in ops), "1/s"),
        "item_wait_p50_s": (med(med(op["waits"]) for op in ops), "s"),
        "item_wait_tail_s": (med(tail(op["waits"])[1] for op in ops), "s"),
    }


def per_layer(all_layers: dict, ops: list[dict], untraced: list[dict],
              unmeasured: set, rss_mb: float, setups: list[float],
              warm_s: float) -> dict:
    """Medians over the traced ops of the workload's own layers; layers
    of the other workloads read 0 (this workload bypasses them)."""
    out = {}
    for name, unit in all_layers.items():
        vals = [op["layers"][name] for op in ops
                if name in op.get("layers", {})]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    walls = statistics.median(op["wall"] for op in ops)
    base = statistics.median(op["wall"] for op in untraced)
    out["trace.overhead_s"] = (walls - base, "s")
    out["trace.unmeasured"] = (len(unmeasured), "count")
    # varies by more than a tenth from run to run: a layer figure, not an
    # end-to-end one
    out["peak_rss_mb"] = (rss_mb, "MB")
    out["setup.cold_s"] = (setups[0], "s")
    out["setup.warmup_s"] = (warm_s, "s")
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import roddy_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import session
    from perfbench.trace import tree_peak_rss_mb
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache")
    spark = session.start(ROOT, work)
    try:
        ctx = Ctx(spark, args.seed, work, cache)
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        wl.prepare()
        # set-up 1 is the cold start: interpreter, JVM and session start,
        # inputs opened; the rest build the session again in the same JVM
        # (stopping the previous one is not set-up, and is not timed)
        setups = [time.perf_counter() - T_START - gen_s]
        for _ in range(SETUPS - 1):
            spark.stop()
            t = time.perf_counter()
            spark = session.start(ROOT, work)
            ctx.bind(spark)
            wl.prepare()
            setups.append(time.perf_counter() - t)
        ctx.log("set-ups " + ", ".join(f"{s:.3f}s" for s in setups))
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        if args.trace:
            # half the window traced, then half untraced: the difference
            # is the tracing overhead (warm-up drift makes the later,
            # untraced half faster, so it errs high)
            ops = _window(wl, args.seconds / 2, True, 1)
            untraced = _window(wl, args.seconds / 2, False, 1)
        else:
            ops = _window(wl, args.seconds, False, MIN_OPS)
        rss = tree_peak_rss_mb(ctx.jvm_pid)
    finally:
        t = time.perf_counter()
        session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: teardown {time.perf_counter() - t:.3f}s",
              file=sys.stderr)

    if not ops or (args.trace and not untraced):
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    if args.trace:
        all_layers = {k: u for w in WORKLOADS.values()
                      for k, u in w.layers.items()}
        metrics = per_layer(all_layers, ops, untraced,
                            ctx.tracer.unmeasured, rss, setups, warm_s)
        ctx.tracer.dump(os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}.json"), {
                "workload": args.workload, "seed": args.seed,
                "gen_s": gen_s, "setups_s": setups,
                "layers": {k: v for k, (v, _) in metrics.items()}})
    else:
        metrics = end_to_end(ops, setups)
    tally = ctx.tally
    print(f"perfbench {args.workload} seed={args.seed} ops={len(ops)} "
          f"gen_s={gen_s:.3f} error_rate={tally.error_rate:.4f} "
          f"unmeasured={sorted(ctx.tracer.unmeasured)}")
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed if tally.attempted else 1,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
