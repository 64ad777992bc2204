#!/usr/bin/env python3
"""Steadiness check: run one workload under several seeds and print, per
end-to-end metric, the median and the interquartile spread as a share of
the median, next to the bound BENCHMARK.json allows.

    python3 perfbench/steady.py registry 5              # seeds 1..5
    python3 perfbench/steady.py upsert_daily 10 --first-seed 101
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("runs", type=int)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=root, capture_output=True, text=True)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        print(f"{m['name']:12s} median={statistics.median(v):.4g} spread={metrics.spread(v):.4f} "
              f"bound={m['bound']} (spread must stay below {m['bound'] / 3:.4f})")


if __name__ == "__main__":
    main()
