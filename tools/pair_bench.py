"""Alternating parent/change pairs of the benchmark, and their summary.

Runs ``perfbench/run.py --trace 0`` for one workload over a seed range,
once in each of two checkouts per seed. The side that runs first flips
on every pair, so a drift in host load during the runs does not favour
either side. Each run is a separate process started from the root of its
checkout, exactly as the benchmark is run.

For every end-to-end metric that ``BENCHMARK.json`` lists, it prints each
side's median with its quartiles, the change's median over the base's
(``ratio``), and the pairs the change won by that metric's ``better``
direction. Every run's ``correct`` flag and failed-operation count are
printed as it finishes.

Usage:
    python3 tools/pair_bench.py --base DIR --change DIR --workload crawl \\
        --seeds 1-10 [--seconds 10] [--out runs.jsonl]

``--base`` is usually a ``git clone`` of the parent commit; ``--change``
defaults to this checkout. The metric list comes from the change side's
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")


def seed_range(spec: str) -> list[int]:
    """``"1-10"`` or ``"3,5,8"``."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def end_to_end(benchmark_json: str) -> list[dict]:
    with open(benchmark_json) as f:
        return json.load(f)["end_to_end"]


def parse_result(stdout: str) -> dict:
    """The result line of one run: the last stdout line that is a JSON
    object. A run that printed none (it crashed) reads as an incorrect run
    with no metrics."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            res = json.loads(line)
        except ValueError:
            continue
        if isinstance(res, dict):
            return res
    return {"correct": False, "failed": None, "metrics": {}}


def metric(res: dict, name: str) -> float | None:
    m = res.get("metrics", {}).get(name)
    return None if m is None else float(m["value"])


def order(i: int) -> tuple[str, str]:
    """Which side runs first in pair ``i``: base on even pairs."""
    return SIDES if i % 2 == 0 else SIDES[::-1]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), with quartiles as ``statistics.quantiles`` gives
    them (the benchmark's own spread rule)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def summarize(pairs: list[dict], metrics: list[dict]) -> list[dict]:
    """One row per metric over ``pairs`` (each ``{"base": result,
    "change": result}``). A pair counts toward a metric only when both
    sides report it."""
    rows = []
    for m in metrics:
        vals = [(metric(p["base"], m["name"]), metric(p["change"], m["name"]))
                for p in pairs]
        vals = [(b, c) for b, c in vals if b is not None and c is not None]
        if not vals:
            continue
        base = quartiles([b for b, _ in vals])
        change = quartiles([c for _, c in vals])
        lower = m["better"] == "lower"
        wins = sum(1 for b, c in vals if (c < b if lower else c > b))
        rows.append({
            "name": m["name"], "unit": m["unit"], "better": m["better"],
            "base": base, "change": change,
            "ratio": change[1] / base[1] if base[1] else float("nan"),
            "wins": wins, "pairs": len(vals),
        })
    return rows


def format_rows(rows: list[dict]) -> str:
    def side(q):
        return f"{q[1]:10.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    out = [f"{'metric':16s} {'base median [q1, q3]':>30s} "
           f"{'change median [q1, q3]':>30s} {'ratio':>7s} wins"]
    for r in rows:
        out.append(
            f"{r['name']:16s} {side(r['base']):>30s} {side(r['change']):>30s} "
            f"{r['ratio']:7.3f} {r['wins']}/{r['pairs']} ({r['better']} is better)"
        )
    return "\n".join(out)


def run_once(checkout: str, workload: str, seed: int, seconds: str) -> dict:
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            cwd=checkout, capture_output=True, text=True, timeout=900,
        )
    except subprocess.TimeoutExpired:
        print(f"timed out in {checkout}", file=sys.stderr)
        return parse_result("")
    res = parse_result(proc.stdout)
    if proc.returncode:
        print(f"exit {proc.returncode} in {checkout}:\n{proc.stderr[-3000:]}",
              file=sys.stderr)
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out", help="append each pair as a JSON line here")
    args = ap.parse_args()
    checkouts = {"base": os.path.abspath(args.base),
                 "change": os.path.abspath(args.change)}
    metrics = end_to_end(os.path.join(checkouts["change"], "BENCHMARK.json"))
    pairs = []
    for i, seed in enumerate(seed_range(args.seeds)):
        pair = {"workload": args.workload, "seed": seed, "first": order(i)[0]}
        for side in order(i):
            res = run_once(checkouts[side], args.workload, seed, args.seconds)
            pair[side] = res
            print(f"seed {seed} {side:6s} correct={res.get('correct')} "
                  f"failed={res.get('failed')} " + " ".join(
                      f"{m['name']}={metric(res, m['name']):.4g}"
                      for m in metrics if metric(res, m["name"]) is not None),
                  flush=True)
        pairs.append(pair)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(pair) + "\n")
    print(format_rows(summarize(pairs, metrics)))
    bad = [(p["seed"], s) for p in pairs for s in SIDES
           if not p[s].get("correct") or p[s].get("failed")]
    if bad:
        print(f"runs not correct or with failed operations: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
