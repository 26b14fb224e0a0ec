"""``bench.py --scaling`` measures only parallelism levels the host has."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")


def _bench():
    spec = importlib.util.spec_from_file_location("bench", BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_default_levels_fit_the_host():
    levels = _bench().default_scaling_levels
    assert levels(4) == (1, 4)
    assert levels(8) == (2, 8)
    assert levels(16) == (4, 16)
    assert levels(64) == (4, 16)
    assert levels(2) == (1, 2)


def test_levels_above_the_host_exit_with_one_line():
    n_cpus = len(_bench()._affinity())
    out = subprocess.run(
        [sys.executable, BENCH, "--scaling", "--levels", f"1,{n_cpus + 1}"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 1
    assert out.stdout == ""
    assert out.stderr.strip().count("\n") == 0
    assert f"only {n_cpus} CPUs" in out.stderr
