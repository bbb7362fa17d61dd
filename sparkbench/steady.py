"""Steadiness check: run one workload under several seeds and report each
end-to-end metric's median, quartiles, min/max and quartile spread as a
share of the median (the figure the benchmark's bounds are set against).

    python3 sparkbench/steady.py --workload crawl --seeds 1-10 [--seconds 5] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
        "iqr_share": (q3 - q1) / med if med else float("inf"), "n": len(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds_of(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                           cwd=os.path.dirname(HERE))
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res["seed"] = seed
        runs.append(res)
        print(json.dumps(res), file=sys.stderr)
    names = list(runs[0]["metrics"])
    summary = {
        "workload": args.workload,
        "seconds": args.seconds,
        "failed": sum(r["failed"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "metrics": {m: summarize([r["metrics"][m]["value"] for r in runs]) for m in names},
        "runs": runs,
    }
    text = json.dumps(summary, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
