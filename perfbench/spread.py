#!/usr/bin/env python3
"""Run one workload under several seeds and print each end-to-end
metric's median and inter-quartile spread (IQR as a share of the
median) next to its bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload eager_hosts --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(seed, json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}),
              f"correct={res['correct']} failed={res['failed']}/{res['attempted']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        print(f"{m['name']:>14}  median {median(v):10.4f}  spread {spread(v):.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
