"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py --workload level_clean --seeds 1-10

Runs ``perfbench/run.py`` once per seed (one after another, from the
current directory) and prints, per end-to-end metric, the median and the
interquartile distance as a share of the median next to the metric's
bound from ``BENCHMARK.json``, and the median and largest wall time of a
run. Raw results are appended as JSON lines to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--out")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed",
                                  str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        walls.append(time.perf_counter() - t)
        if proc.returncode:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "run_s": walls[-1], **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    for k, vs in values.items():
        s = spread(vs) if len(vs) > 1 else float("nan")
        print(f"{k:20s} median={statistics.median(vs):.4g} spread={s:.3f} "
              f"bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
