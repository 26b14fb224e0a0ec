"""Stateful streaming host-state: applyInPandasWithState ≡ iterated batch
evolve_host_state, including checkpointed cross-run state continuity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawl4ai_spark.operators.politeness import merge_host_state
from crawl4ai_spark.streaming import stream_host_state

SCHEMA = "host string, iteration long, status_code int"
BASE, MAX = 0.5, 60.0

# (host, iteration, status): a is throttled in iter 1; b always clean;
# c first appears in iter 2 (first-seen default must initialise mid-stream)
ROWS = [
    ("a", 0, 200), ("a", 0, 200), ("b", 0, 200),
    ("a", 1, 429), ("a", 1, 200), ("b", 1, 200),
    ("a", 2, 200), ("b", 2, 200), ("c", 2, 503),
]


def _batch_fold(spark, rows):
    """The crawl loop's exact per-iteration protocol (plans/crawl.py step
    P2 == operators.politeness.merge_host_state) folded over the same
    rows — the equivalence oracle."""
    df = spark.createDataFrame(rows, SCHEMA)
    hs = None
    for it in sorted({r[1] for r in rows}):
        res_it = df.filter(F.col("iteration") == it)
        hs = merge_host_state(
            hs, res_it.select("host", "status_code"), int(it),
            max_delay=MAX, base_delay=BASE,
        )
    return {
        r.host: (r.current_delay, r.fail_count, r.last_iter) for r in hs.collect()
    }


def _drain(spark, src_dir, ckpt, out_dir):
    q = (
        stream_host_state(
            spark.readStream.schema(SCHEMA).parquet(src_dir),
            base_delay=BASE,
            max_delay=MAX,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _final_state(spark, out_dir):
    audit = spark.read.parquet(out_dir)
    w_last = audit.groupBy("host").agg(F.max("iteration").alias("iteration"))
    final = audit.join(w_last, ["host", "iteration"])
    return {
        r.host: (r.current_delay, r.fail_count, r.last_iter) for r in final.collect()
    }


def test_stream_host_state_matches_batch_fold(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)

    got = _final_state(spark, out)
    assert got == _batch_fold(spark, ROWS)
    # hand-computed spot values: a throttled once then decayed; c is
    # initialised at base mid-stream and immediately throttled by its 503
    assert got["a"] == (0.75, 0, 3)
    assert got["b"] == (0.5, 0, 3)
    assert got["c"] == (1.0, 1, 3)
    # every (host, iteration) transition is audited exactly once
    audit = spark.read.parquet(out)
    assert audit.count() == audit.select("host", "iteration").distinct().count() == 7


def test_stream_host_state_resumes_from_checkpoint(spark, tmp_path):
    """State survives a query restart: a second availableNow run over newly
    appended files continues evolving from the checkpointed delays."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    phase1 = [r for r in ROWS if r[1] < 2]
    phase2 = [r for r in ROWS if r[1] == 2]
    spark.createDataFrame(phase1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)
    mid = _final_state(spark, out)
    assert mid["a"] == (1.0, 1, 2)  # ×2 after the iter-1 throttle

    spark.createDataFrame(phase2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, out)  # same checkpoint ⇒ resumed state store
    got = _final_state(spark, out)
    # a's iter-2 decay starts from the CHECKPOINTED 1.0, not from base:
    # 1.0·0.75 = 0.75 — and the whole end-state equals the batch fold
    assert got == _batch_fold(spark, ROWS)
    assert os.path.isdir(ckpt)


def test_stream_host_state_iteration_split_across_batches_folds_once(spark, tmp_path):
    """maxFilesPerTrigger pacing can split one iteration's files across
    micro-batches; the done_iter state guard must fold that iteration
    ONCE (no double-doubled delay, no duplicate audit row)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    # one host, one iteration, a 429 in EVERY file: two files → without
    # the guard the stream evolves twice (0.5→1.0→2.0) and audits twice
    rows = [("a", 0, 429), ("a", 0, 429)]
    df = spark.createDataFrame(rows, SCHEMA).repartition(2)
    df.write.mode("append").parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) >= 2
    q = (
        stream_host_state(
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            base_delay=BASE,
            max_delay=MAX,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    audit = spark.read.parquet(out)
    assert audit.count() == 1
    r = audit.collect()[0]
    assert (r.host, r.iteration, r.current_delay, r.fail_count) == ("a", 0, 1.0, 1)
