"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S] [--trace 0|1]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
a markdown table with each metric's median and quartile spread (the
distance between the first and third quartile as a share of the median)
over the runs, followed by the medians of a few run details. Run from
the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import median, quartile_spread  # noqa: E402

#: run details summarised next to the metrics
DETAILS = ["run_s", "steal_frac", "samples"]


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def one_run(workload: str, seed: int, seconds: float, trace: int):
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE,
                         text=True).stdout.strip().splitlines()
    detail = json.loads(out[-2])
    detail["run_s"] = time.perf_counter() - t0
    return detail, json.loads(out[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--raw", help="also append every run's two result "
                   "lines to this file, as one JSON line per run")
    args = p.parse_args(argv)
    runs = []
    for seed in seeds(args.seeds):
        detail, result = one_run(args.workload, seed, args.seconds,
                                 args.trace)
        runs.append((detail, result))
        if args.raw:
            with open(args.raw, "a") as f:
                f.write(json.dumps({"detail": detail, "result": result}) + "\n")
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          "failed": result["failed"],
                          **{k: detail.get(k) for k in DETAILS}}),
              file=sys.stderr)
    print("| metric | unit | median | spread |")
    print("|---|---|---|---|")
    for name, m in runs[0][1]["metrics"].items():
        values = [r["metrics"][name]["value"] for _d, r in runs]
        spread = quartile_spread(values) if len(values) > 1 and median(values) else 0.0
        print(f"| `{name}` | {m['unit']} | {median(values):.4g} | {spread:.2f} |")
    for key in DETAILS:
        values = [d[key] for d, _r in runs if d.get(key) is not None]
        if values:
            print(f"| `{key}` (detail) | | {median(values):.4g} | |")
    ok = all(r["correct"] and not r["failed"] for _d, r in runs)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
