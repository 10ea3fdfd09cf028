#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each end-to-end
metric: median, quartiles and the quartile spread as a share of the
median, next to the bound BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--out F.json]

Run from the repository root.  One run at a time, untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    load_start = os.getloadavg()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, check=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"], res["run_s"] = seed, time.monotonic() - t0
        runs.append(res)
        print(f"seed {seed}: {res['run_s']:.1f} s, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}"
                          for k, v in res["metrics"].items()), flush=True)
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med, "bound": bound}
        print(f"{name:18s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}"
              f"  bound {bound}")
    out = {"workload": args.workload, "nproc": os.cpu_count(),
           "loadavg_start": load_start, "runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    sys.exit(0 if all(r["correct"] for r in runs) else 1)


if __name__ == "__main__":
    main()
