"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median), the figure a
metric's bound in BENCHMARK.json is held to.

    python3 perfbench/repeat.py --workload toot_stream --seeds 1-10

Run from the repository root; runs go one at a time, so they never
compete with each other for the host.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

import stats


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in range(lo, hi + 1):
        t = time.time()
        p = subprocess.run(
            [*spec["command"], "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            failed += 1
            print(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}", flush=True)
            continue
        result = json.loads(lines[-1])
        print(f"seed {seed} wall {wall:.1f} s correct {result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        if len(vs) >= 2:
            spread = stats.quartile_spread(vs)
            print(f"{k:16s} median {statistics.median(vs):10.4g}  spread {spread:.3f}  "
                  f"bound {bounds[k]:.2f}  n {len(vs)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
