#!/usr/bin/env python3
"""Run one workload on several seeds and report how steady each metric is.

    python3 graftbench/spread.py --workload text_dedup --seeds 1-10 --seconds 40

For each metric of the runs' last lines: the median, the interquartile
range as a share of the median, and the tail (the highest percentile with
ten runs beyond it, with its n) once there are enough runs. Compare the
spread with the bound BENCHMARK.json sets for the metric.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from metrics import median, spread, tail  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="40")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
        walls.append(time.time() - t0)
        result = json.loads(out[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']}, "
              f"failed={result['failed']}/{result['attempted']}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    report = {"workload": args.workload, "runs": len(walls), "run_wall_s": walls}
    for name, vs in values.items():
        row = {"median": median(vs), "spread": spread(vs) if len(vs) > 1 and median(vs) else None,
               "values": vs}
        t = tail(vs)
        if t:
            row["tail"] = {"value": t[0], "percentile": t[1], "n": t[2]}
        report[name] = row
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
