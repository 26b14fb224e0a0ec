"""Tests of the benchmark's own machinery: event-log attribution, the
zero-work guard and the output checks. Run from the checkout root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The Spark tests start one traced ``local`` session (about 15 s).
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import (  # noqa: E402
    METRIC_KEYS, Tracer, attribute, check_digest, check_guards, digest_rows,
)


def _task(stage, ms, py=0, shw=0):
    return {"stage": stage, "task_ms": ms, "py_worker_ms": py, "py_bytes_sent": 0,
            "shuffle_read_B": 0, "shuffle_write_B": shw, "spill_B": 0, "tasks": 1}


def test_attribution_counts_every_task_once():
    spans = [
        {"id": 0, "name": "outer", "parent": None, "traced": True, "start": 10.0, "end": 20.0},
        {"id": 1, "name": "inner", "parent": 0, "traced": True, "start": 12.0, "end": 14.0},
    ]
    jobs = {
        0: {"group": "span0", "submitted": 11.0, "stages": [0]},
        1: {"group": "span1", "submitted": 12.5, "stages": [1, 2]},
        2: {"group": None, "submitted": 13.0, "stages": [3]},  # pool thread
        3: {"group": None, "submitted": 30.0, "stages": [4]},  # outside spans
        4: {"group": "span1", "submitted": 13.5, "stages": [2, 5]},  # reuses 2
    }
    tasks = [_task(0, 5), _task(1, 7), _task(2, 11), _task(3, 13), _task(4, 17),
             _task(5, 19)]
    attr = attribute(jobs, tasks, spans)
    assert attr["self"]["span0"]["task_ms"] == 5
    assert attr["self"]["span1"]["task_ms"] == 7 + 11 + 13 + 19
    assert attr["window_task_ms"] == 13
    assert attr["unattributed"]["task_ms"] == 17
    for k in METRIC_KEYS:
        got = sum(v[k] for v in attr["self"].values()) + attr["unattributed"][k]
        assert got == attr["total"][k], k
    assert harness.inclusive(attr, spans, 0)["task_ms"] == 5 + 7 + 11 + 13 + 19


@pytest.fixture(scope="module")
def traced_log():
    """One traced session: a pruned and an unpruned extract span, a
    shuffle span with a job from an unpinned thread inside it, and a job
    outside every span. Returns (attr, spans) after the session stopped
    and the event log was flushed."""
    harness.prepare_workdir()
    spark = harness.start_session(traced=True)
    from crawl4ai_spark.plans.extract import extract_pages
    from pyspark.sql import functions as F

    tracer = Tracer(spark.sparkContext)
    pages = spark.createDataFrame(
        [(f"https://h.example/p/{i}",
          f"<html><body><h1>T{i}</h1><p>para {i} text here</p></body></html>".encode())
         for i in range(40)],
        "url string, html binary",
    ).repartition(2)
    with tracer.span("extract_pruned"):
        extract_pages(pages).select("url", "markdown").count()
    with tracer.span("extract"):
        extract_pages(pages).agg(F.sum(F.length("markdown.raw_markdown"))).collect()
    with tracer.span("shuffle"):
        spark.range(5000).repartition(3).groupBy((F.col("id") % 7).alias("k")).count().collect()
        t = threading.Thread(target=lambda: spark.range(100).repartition(2).count())
        t.start()
        t.join(60)
        assert not t.is_alive()
    spark.range(100).repartition(2).count()  # outside every span
    harness.stop_session(spark)
    harness.shutdown_jvm()
    jobs, tasks = harness.read_event_log(harness.event_log_path())
    return attribute(jobs, tasks, tracer.spans), tracer.spans


def test_attribution_sums_to_event_log_total(traced_log):
    attr, spans = traced_log
    for k in METRIC_KEYS:
        got = sum(v[k] for v in attr["self"].values()) + attr["unattributed"][k]
        assert got == attr["total"][k], k
    assert attr["total"]["task_ms"] > 0
    assert attr["unattributed"]["jobs"] >= 1
    shuffle = harness.span_totals(attr, spans, "shuffle")
    assert shuffle["shuffle_write_B"] > 0 and shuffle["jobs"] >= 2


def test_zero_work_guard_trips_on_pruned_extract(traced_log):
    attr, spans = traced_log
    assert check_guards(attr, spans, {"extract": ("py_worker_ms",)}) == []
    bad = check_guards(attr, spans, {"extract_pruned": ("py_worker_ms",)})
    assert bad and "py_worker_ms is zero" in bad[0]
    assert check_guards(attr, spans, {"missing": ("task_ms",)})


def test_one_byte_change_trips_the_output_check():
    rows = [("https://a.example/1", "d41d8cd98f00b204e9800998ecf8427e", 1),
            ("https://a.example/2", "0cc175b9c0f1b6a831c399e269772661", 2)]
    digest = digest_rows(rows)
    assert digest_rows(list(reversed(rows))) == digest  # order-independent
    assert check_digest("ingest", 7, [digest, digest], {"ingest": {"7": digest}}) == []
    flipped = digest[:-1] + ("0" if digest[-1] != "0" else "1")
    assert check_digest("ingest", 7, [digest], {"ingest": {"7": flipped}})
    changed = [rows[0], (rows[1][0], rows[1][1][:-1] + "2", rows[1][2])]
    assert digest_rows(changed) != digest
    assert check_digest("ingest", 7, [digest, digest_rows(changed)], {"ingest": {"7": digest}})
    # a variant with no recorded digest fails rather than passing unchecked
    assert check_digest("ingest", 7, [digest], {"ingest": {"6": digest}})


def test_every_variant_of_every_workload_has_a_recorded_digest():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        # curate runs inside ingest's traced run
        names = [w["name"] for w in json.load(f)["workloads"]] + ["curate"]
    expected = harness.load_expected()
    for name in names:
        assert sorted(expected.get(name, {}), key=int) == [
            str(v) for v in range(harness.VARIANTS)], name
    assert {harness.variant(s) for s in range(-3, 40)} == set(range(harness.VARIANTS))
