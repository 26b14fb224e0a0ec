"""Run one workload over several seeds and report each end-to-end
metric's median and spread (interquartile distance over the median,
quartiles as ``statistics.quantiles(values, n=4)`` gives them).

    python3 perfbench/spread.py --workload ingest --seeds 1-10 --seconds 10

Each run is a separate process, exactly as the benchmark is run. Results
(one JSON line per run: the result and the run's host facts) are
appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1])
        host = json.loads(lines[-2]).get("host", {}) if len(lines) > 1 else {}
        if proc.returncode or not res.get("correct"):
            print(f"seed {seed}: exit {proc.returncode}, result {lines[-1]}", file=sys.stderr)
            print(proc.stderr[-3000:], file=sys.stderr)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **res,
                                    "host": host}) + "\n")
        for name, m in res.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    for name, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        print(f"{args.workload:10s} {name:14s} median {med:10.4g} "
              f"q1 {q[0]:10.4g} q3 {q[2]:10.4g} spread {(q[2] - q[0]) / med:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
