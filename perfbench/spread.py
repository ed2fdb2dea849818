"""Run-to-run spread of the benchmark's metrics.

Runs ``run.py`` once per seed on one workload, one run at a time, and
prints for every metric its median and its quartile spread (Q3 - Q1 as
a share of the median), the figure each end-to-end bound in
``BENCHMARK.json`` is checked against.

Usage (from the repository root):

    python3 perfbench/spread.py --workload curation --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        seconds = args.seconds or json.load(fh)["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seed_list(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=root, capture_output=True, text=True, check=True,
        )
        walls.append(time.perf_counter() - t0)
        diag = [ln for ln in out.stderr.splitlines() if ln.startswith("# diag ")]
        with open(os.path.join(root, ".perfbench", f"spread-{args.workload}.jsonl"), "a") as fh:
            fh.write(diag[-1][len("# diag "):] + "\n" if diag else "{}\n")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"run wall: median {median(walls):.1f}s, max {max(walls):.1f}s")
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else 0.0
        print(f"{k:32s} median {median(vs):12.5g}  spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
