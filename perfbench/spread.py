"""Run one workload over several seeds and print, per metric, the median
and the quartile spread as a share of the median (what a regression bound
is compared against).

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5 [--trace 0]

Run from the repository root; each run's last stdout line is also appended
to .perfbench_out/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(".perfbench_out", exist_ok=True)
    log = os.path.join(".perfbench_out", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": time.perf_counter() - t0, **res}) + "\n")
        print(f"seed {seed}: wall {time.perf_counter() - t0:.1f} s correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(k)
        flag = "" if bound is None else f" bound {bound} {'ok' if spread <= bound / 3 else 'WIDE'}"
        print(f"{k:40s} median {med:12.5g} spread {spread:7.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
