"""Record the output digest of every input variant of every workload in
``expected.json``, the reference the benchmark's output check compares
each run against.

    python3 perfbench/record.py [--workload crawl ...]

Runs from the root of a checkout, in one session: each variant is set up
and run for one pass, and its digest is stored only if the pass passes
every other output check. Re-record only for a change that is meant to
alter the library's outputs, and say so in that change.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    import harness
    from harness import VARIANTS, Tracer, log, record_expected
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    harness.prepare_workdir()
    spark = harness.start_session(traced=False)
    bad = 0
    try:
        for name in args.workload or sorted(WORKLOADS):
            for var in range(VARIANTS):
                wl = WORKLOADS[name](var)
                wl.setup(spark)
                wl.run_pass(spark, 0, Tracer())
                failed, problems = wl.check_pass(spark, 0)
                problems += wl.final_check(spark)
                if failed or problems:
                    log(f"{name} variant {var}: not recorded: {problems}")
                    bad += 1
                    continue
                record_expected(name, var, wl.digests[0])
                log(f"{name} variant {var}: {wl.digests[0]}")
    finally:
        harness.stop_session(spark)
        harness.shutdown_jvm()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
