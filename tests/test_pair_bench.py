"""tools/pair_bench.py on canned result lines."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import pair_bench  # noqa: E402

METRICS = [
    {"name": "pass_s_p50", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "pages_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
]


def _result(pass_s: float, pages: float, correct: bool = True) -> dict:
    return {"correct": correct, "attempted": 3, "failed": 0, "metrics": {
        "pass_s_p50": {"value": pass_s, "unit": "s"},
        "pages_per_s": {"value": pages, "unit": "1/s"},
    }}


def test_parse_result_reads_the_last_json_line():
    res = _result(4.5, 10.0)
    stdout = "\n".join([
        "perfbench: starting",
        json.dumps({"host": {"cores": 4}}),
        json.dumps(res),
        "",
    ])
    assert pair_bench.parse_result(stdout) == res
    crashed = pair_bench.parse_result("Traceback (most recent call last):\n")
    assert crashed["correct"] is False and crashed["metrics"] == {}


def test_order_alternates_the_first_side():
    assert [pair_bench.order(i)[0] for i in range(4)] == [
        "base", "change", "base", "change"
    ]


def test_summarize_medians_quartiles_ratio_and_wins():
    pairs = [
        {"base": _result(b, pb), "change": _result(c, pc)}
        for b, c, pb, pc in [
            (5.0, 4.0, 10.0, 11.0),
            (6.0, 4.5, 10.0, 9.0),
            (4.0, 4.2, 12.0, 13.0),
            (5.5, 5.0, 11.0, 12.0),
        ]
    ]
    rows = {r["name"]: r for r in pair_bench.summarize(pairs, METRICS)}
    p = rows["pass_s_p50"]
    assert p["base"][1] == 5.25 and p["change"][1] == 4.35
    assert p["ratio"] == 4.35 / 5.25
    assert p["wins"] == 3 and p["pairs"] == 4  # lower is better
    assert rows["pages_per_s"]["wins"] == 3  # higher is better
    q1, _, q3 = p["base"]
    assert q1 < p["base"][1] < q3
    text = pair_bench.format_rows(list(rows.values()))
    assert "pass_s_p50" in text and "3/4" in text


def test_summarize_skips_pairs_missing_a_metric():
    pairs = [
        {"base": _result(5.0, 10.0), "change": _result(4.0, 11.0)},
        {"base": _result(5.0, 10.0), "change": {"correct": False, "metrics": {}}},
    ]
    rows = {r["name"]: r for r in pair_bench.summarize(pairs, METRICS)}
    assert rows["pass_s_p50"]["pairs"] == 1


def test_seed_range_and_benchmark_metrics():
    assert pair_bench.seed_range("1-3") == [1, 2, 3]
    assert pair_bench.seed_range("4,7") == [4, 7]
    names = [m["name"] for m in pair_bench.end_to_end(
        os.path.join(pair_bench.ROOT, "BENCHMARK.json")
    )]
    assert "pass_s_p50" in names and "cpu_ms_per_page" in names
