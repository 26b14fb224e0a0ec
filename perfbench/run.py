"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Set-up (session start plus input
generation) is repeated ``SETUP_REPS`` times and its median reported as
``setup_s``; then passes run as a closed loop (one caller, each pass
starts when the previous one ends) until ``--seconds`` of pass time is
measured. Every pass's outputs are checked. The last stdout line is the
result JSON: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. A traced run measures half its time untraced, then
restarts the session with the event log on and measures the other half
with a Spark job group per span, and times each layer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

SETUP_REPS = 3


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def measure(spark, wl, tracer, seconds: float, first_index: int, state: dict,
            rss=None) -> list[float]:
    """The workload's warm-up, then a closed loop of passes until
    ``seconds`` of pass time; returns the measured pass walls. Every pass
    is checked; attempted/failed operations and items accumulate into
    ``state``. The ``rss`` sampler, if given, runs during the first
    measured pass, so it sees the same work on every run however many
    passes fit in ``seconds``."""
    from harness import log, steal_s, tree_cpu_s

    with tracer.span("warmup"):
        wl.warmup(spark, tracer)
    if rss is not None:
        rss.start()
    walls: list[float] = []
    i = first_index
    steal0 = steal_s()
    while sum(walls) < seconds:
        ops = wl.ops_per_pass()
        state["attempted"] += ops
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            items = wl.run_pass(spark, i, tracer)
        except Exception:  # a raised error is a failed pass, reported below
            log(traceback.format_exc())
            state["failed"] += ops
            state["problems"].append(f"{wl.name} pass {i} raised")
            break
        walls.append(time.perf_counter() - t0)
        state["cpu_s"] += tree_cpu_s(os.getpid()) - cpu0
        if rss is not None:
            rss.stop()
        state["items"] += items
        with tracer.span("check"):
            failed, problems = wl.check_pass(spark, i)
        state["failed"] += failed
        state["problems"] += problems
        i += 1
    if rss is not None:
        rss.stop()
    state["steal_s"] += steal_s() - steal0
    state["next"] = i
    return walls


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import crawl4ai_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable here: {e}", file=sys.stderr)
        return 2
    import harness
    from harness import (
        RssSampler, Tracer, attribute, check_digest, check_guards, load_expected,
        log, median, read_event_log, variant,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    e2e_units, layer_units = _metric_specs()
    phases = {"start": time.perf_counter()}
    harness.prepare_workdir()
    var = variant(args.seed)
    wl = WORKLOADS[args.workload](var)
    facts = harness.host_facts(args.seed, wl.name, wl.sizes)
    facts["variant"] = var

    starts, gens, spark = [], [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            harness.stop_session(spark)
        t0 = time.perf_counter()
        spark = harness.start_session(traced=False)
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        gens.append(t2 - t1)
    setup = [a + b for a, b in zip(starts, gens)]
    phases["setup"] = time.perf_counter()

    state = {"attempted": 0, "failed": 0, "items": 0, "problems": [], "next": 0,
             "cpu_s": 0.0, "steal_s": 0.0}
    tracer = Tracer()
    untraced_s = args.seconds / 2 if args.trace else args.seconds
    rss = RssSampler()
    walls = measure(spark, wl, tracer, untraced_s, 0, state, rss)
    steady = wl.steady_times(walls)
    phases["measure"] = time.perf_counter()
    metrics: dict = {}
    if args.trace:
        harness.stop_session(spark)
        spark = harness.start_session(traced=True)
        tracer.sc = spark.sparkContext
        traced_walls = measure(spark, wl, tracer, args.seconds / 2, state["next"], state)
        traced_steady = wl.steady_times(traced_walls, traced=True)
    if walls:
        with tracer.span("check"):
            state["problems"] += wl.final_check(spark)
    if args.trace and walls and traced_walls:
        with tracer.span("layers"):
            metrics.update(wl.layers(spark, tracer))
        state["problems"] += wl.layer_problems
    phases["check"] = time.perf_counter()
    harness.stop_session(spark)
    harness.shutdown_jvm()
    phases["shutdown"] = time.perf_counter()

    if args.trace and walls and traced_walls:
        jobs, tasks = read_event_log(harness.event_log_path())
        attr = attribute(jobs, tasks, tracer.spans)
        bad = check_guards(attr, tracer.spans, wl.guards)
        for b in bad:
            state["problems"].append(f"zero-work guard: {b}")
        metrics.update(wl.layer_metrics(attr, tracer.spans))
        metrics.update({
            "peak_rss_MB": rss.peak_mb,
            "session.start_s": median(starts),
            "inputs.gen_s": median(gens),
            "trace.overhead_frac": median(traced_steady) / median(steady) - 1,
            "eventlog.unattributed_task_ms": attr["unattributed"]["task_ms"],
        })
        with open(os.path.join(harness.WORK, "attribution.json"), "w") as f:
            json.dump({k: v for k, v in attr.items()}, f, indent=1, default=str)
    tracer.dump(os.path.join(harness.WORK, "spans.json"))

    state["problems"] += check_digest(wl.name, var, wl.digests, load_expected())
    if any("digest" in p or "disagree" in p for p in state["problems"]):
        state["failed"] = state["attempted"]
    correct = not state["problems"] and state["failed"] == 0 and bool(walls)
    for p in state["problems"]:
        log("CHECK FAILED:", p)

    if args.trace:
        units, values = layer_units, metrics
        unknown = set(values) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    else:
        units = e2e_units
        values = {
            "setup_s": median(setup),
            "pages_per_s": state["items"] / sum(walls) if walls else 0.0,
            "pass_s_p50": median(steady) if steady else 0.0,
            "cpu_ms_per_page": 1000 * state["cpu_s"] / max(1, state["items"]),
        }
    facts.update({"loadavg_after": list(os.getloadavg()), "passes": len(walls),
                  "pass_walls": walls, "steady": steady,
                  # share of the CPUs' time stolen while passes ran
                  "steal_frac": state["steal_s"] / max(1e-9, sum(walls) * harness.cores()),
                  "setup_s_each": setup, "digest": wl.digests[:1],
                  # seconds from the previous phase's end to this one's
                  "phase_s": {k: phases[k] - phases[j] for j, k in zip(phases, list(phases)[1:])},
                  "peak_rss_MB_by_process": {k: v / 2**20 for k, v in rss.breakdown.items()}})
    print(json.dumps({"host": facts}))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, state["attempted"]),
        "failed": state["failed"],
        # a layer a workload does not exercise reads 0
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                    for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
