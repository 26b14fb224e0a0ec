"""Unit tests for the Gopher/C4/CCNet corpus-hygiene tier
(datapipe/webquality, linededup, pii, sharding) — edge cases the contract
oracles don't isolate: empty inputs, guard branches, pattern ordering,
and equivalence of the distributed prefix sum with the naive window."""

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.linededup import dedup_lines_corpus
from crawl4ai_spark.datapipe.pii import pii_counts_col, redact_pii_col
from crawl4ai_spark.datapipe.sharding import pack_shards, shard_manifest
from crawl4ai_spark.datapipe.webquality import (
    c4_clean_col,
    c4_page_gate_col,
    gopher_gate_col,
    gopher_metrics_frame,
)


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_gopher_metrics_empty_and_degenerate(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "x"), (3, "word word word word word")], "id long, text string"
    )
    rows = {r.id: r.m for r in gopher_metrics_frame(df, "text").collect()}
    assert rows[1].n_words == 0 and rows[1].mean_word_len == 0.0
    assert rows[1].top_2gram_frac == 0.0 and rows[1].dup_line_frac == 0.0
    assert rows[2].n_words == 1 and rows[2].top_2gram_frac == 0.0
    # "word word" 2-gram occurs 4 times over 4 grams -> covers 4*2/5 tokens
    assert rows[3].top_2gram_frac == pytest.approx(8 / 5, abs=1e-6)


def test_gopher_gate_published_thresholds(spark):
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with great energy to spare"] * 5
    )
    spammy = "buy now " * 60
    df = spark.createDataFrame([(1, good), (2, spammy)], "id long, text string")
    got = {
        r.id: r.keep
        for r in gopher_metrics_frame(df, "text").select(
            "id", gopher_gate_col(F.col("m")).alias("keep")
        ).collect()
    }
    # "good" has 65 words, stopword types (the,that,to,with), sane lengths
    assert got[1] is True
    # "buy now" repetition: top-2gram fraction ~1 -> rejected
    assert got[2] is False


def test_c4_line_rules(spark):
    text = "\n".join(
        [
            "This sentence is long enough and ends with a period.",
            "short line.",  # <5 words
            "This line has enough words but no terminal punct",
            "Enable javascript to view this page properly.",  # blocklist
            "A second proper sentence closes the page here!",
        ]
    )
    r = _one(
        spark.createDataFrame([(text,)], "text string").select(
            c4_clean_col("text").alias("c")
        )
    ).c
    assert r.n_lines == 5 and r.n_lines_kept == 2
    assert r.text_clean.splitlines() == [
        "This sentence is long enough and ends with a period.",
        "A second proper sentence closes the page here!",
    ]


def test_c4_page_gate(spark):
    df = spark.createDataFrame(
        [(1, "One full sentence with five words here.")], "id long, text string"
    )
    r = _one(df.select(c4_page_gate_col(c4_clean_col("text")).alias("keep")))
    assert r.keep is False  # 1 surviving line < 3


def test_line_dedup_first_occurrence_and_empty_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "shared boilerplate\nunique one"),
            (2, "shared boilerplate\nunique two\nshared boilerplate"),
            (3, "shared boilerplate"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup_lines_corpus(df, "doc_id", "text").collect()}
    assert rows[1].text_clean == "shared boilerplate\nunique one"
    # doc 2 loses both copies (first occurrence is doc 1 line 0)
    assert rows[2].text_clean == "unique two"
    assert rows[2].n_lines == 3 and rows[2].n_lines_kept == 1
    # doc 3 is pure boilerplate -> survives as an explicit empty row
    assert rows[3].text_clean == "" and rows[3].n_lines_kept == 0


def test_line_dedup_normalizes_case_and_spaces(spark):
    df = spark.createDataFrame(
        [(1, "Cookie  Policy"), (2, "cookie policy")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in dedup_lines_corpus(df, "doc_id", "text").collect()}
    assert rows[1].n_lines_kept == 1 and rows[2].n_lines_kept == 0


def test_pii_redaction_order_and_counts(spark):
    text = "mail a.b+c@ex.org or 10.1.2.3 or 555-123-4567 end"
    r = _one(
        spark.createDataFrame([(text,)], "text string").select(
            pii_counts_col("text").alias("c"), redact_pii_col("text").alias("t")
        )
    )
    assert (r.c.n_email, r.c.n_ipv4, r.c.n_phone) == (1, 1, 1)
    assert r.t == "mail <EMAIL> or <IP> or <PHONE> end"


def test_pii_ip_not_eaten_by_phone(spark):
    # an IPv4 must be redacted as <IP>, never half-matched as a phone
    r = _one(
        spark.createDataFrame([("srv 192.168.100.200 up",)], "text string").select(
            redact_pii_col("text").alias("t")
        )
    )
    assert r.t == "srv <IP> up"


def test_pii_plain_text_untouched(spark):
    r = _one(
        spark.createDataFrame(
            [("no pii here just words and 42 numbers",)], "text string"
        ).select(redact_pii_col("text").alias("t"))
    )
    assert r.t == "no pii here just words and 42 numbers"


def test_pack_shards_matches_naive_window(spark):
    df = spark.createDataFrame(
        [(i, (i * 37) % 90 + 10) for i in range(200)], "doc_id long, n_tokens long"
    ).repartition(7)
    got = pack_shards(df, "doc_id", "n_tokens", budget=300)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("shard_id", F.floor(F.col("tokens_before") / 300))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pack_shards_empty_and_manifest(spark):
    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_shards(empty, "doc_id", "n_tokens", budget=100).count() == 0
    df = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 60)], "doc_id long, n_tokens long"
    )
    packed = pack_shards(df, "doc_id", "n_tokens", budget=100)
    m = {r.shard_id: (r.n_docs, r.n_tokens) for r in shard_manifest(packed, "n_tokens").collect()}
    # doc1 starts at 0 (shard 0), doc2 at 60 (shard 0), doc3 at 120 (shard 1)
    assert m == {0: (2, 120), 1: (1, 60)}


# -- full Gopher repetition screen --------------------------------------------


def test_repetition_metrics_hand_computed(spark):
    from crawl4ai_spark.datapipe.webquality import gopher_repetition_frame

    text = "aa bb cc aa bb cc dd\n\npara one\n\npara one"
    df = spark.createDataFrame([(1, text)], "id long, text string")
    r = gopher_repetition_frame(df, "text").collect()[0]
    # paragraphs: ["aa...dd", "para one", "para one"] -> 1/3 dup
    assert r["dup_para_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # dup para chars: 8+8 of (20+8+8)
    assert r["dup_para_char_frac"] == pytest.approx(16 / 36, abs=1e-6)
    # top 2-gram: "para one" x2 -> 2*7 token chars of 28 total
    assert r["top_2gram_char_frac"] == pytest.approx(14 / 28, abs=1e-6)
    # no 5..10-gram repeats in this doc
    for n in range(5, 11):
        assert r[f"dup_{n}gram_char_frac"] == 0.0


def test_repetition_gate_thresholds(spark):
    from crawl4ai_spark.datapipe.webquality import (
        gopher_repetition_frame,
        gopher_repetition_gate_col,
    )
    from pyspark.sql import functions as F  # noqa: F811

    clean = " ".join(f"w{i}" for i in range(60))
    spam = " ".join(["spam is bad and very bad indeed"] * 10)
    df = spark.createDataFrame(
        [(1, clean), (2, spam)], "id long, text string"
    )
    out = gopher_repetition_frame(df, "text", out_prefix="m_")
    struct = F.struct(
        *[
            F.col("m_" + f).alias(f)
            for f in [
                "dup_line_frac", "dup_line_char_frac",
                "dup_para_frac", "dup_para_char_frac",
                "top_2gram_char_frac", "top_3gram_char_frac",
                "top_4gram_char_frac",
            ]
            + [f"dup_{n}gram_char_frac" for n in range(5, 11)]
        ]
    )
    rows = {
        r["id"]: r["keep"]
        for r in out.select(
            "id", gopher_repetition_gate_col(struct).alias("keep")
        ).collect()
    }
    assert rows[1] is True    # all-distinct doc passes every screen
    assert rows[2] is False   # 10x-repeated sentence fails dup-gram screens


def test_repetition_short_doc_guards(spark):
    from crawl4ai_spark.datapipe.webquality import gopher_repetition_frame

    df = spark.createDataFrame(
        [(1, ""), (2, "only three words")], "id long, text string"
    )
    rows = {r["id"]: r for r in gopher_repetition_frame(df, "text").collect()}
    for rid in (1, 2):
        for n in range(5, 11):
            assert rows[rid][f"dup_{n}gram_char_frac"] == 0.0
    assert rows[2]["top_2gram_char_frac"] == pytest.approx(
        (5 + 5) / 14, abs=1e-6
    )  # "three words" 2-gram: 10 of 14 token chars


def test_shard_nparts_tracks_row_hint():
    from crawl4ai_spark.datapipe.sharding import _shard_nparts

    # no hint: session parallelism
    assert _shard_nparts(32, None, 1_000_000) == 32
    # hint below parallelism: cores still win (small input, keep cores busy)
    assert _shard_nparts(32, 1_000, 1_000_000) == 32
    # hint drives the count once it exceeds parallelism × partition_rows
    assert _shard_nparts(32, 10_000_000_000, 1_000_000) == 10_000
    assert _shard_nparts(32, 5_000_000, 1_000) == 5_000
    # codegen-safety cap on the literal offset map
    assert _shard_nparts(32, 10_000_000_000, 10) == 32_768


def test_pack_shards_hint_does_not_change_output(spark):
    from crawl4ai_spark.datapipe.sharding import pack_shards

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    base = {(r.doc_id, r.shard_id, r.tokens_before)
            for r in pack_shards(df, "doc_id", "n_tokens", budget=100).collect()}
    hinted = {(r.doc_id, r.shard_id, r.tokens_before)
              for r in pack_shards(df, "doc_id", "n_tokens", budget=100,
                                   n_rows_hint=500, partition_rows=10).collect()}
    assert base == hinted


def test_line_dedup_zero_line_doc_survives(spark):
    """A document whose text is empty or whitespace-only explodes to zero
    lines and must still come back as (n_lines=0, text_clean='') — the
    exact case the input-anchored join exists for."""
    from crawl4ai_spark.datapipe.linededup import dedup_lines_corpus

    df = spark.createDataFrame(
        [(1, "keep me.\nshared line"), (2, ""), (3, "   \n  \n"), (4, "shared line")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_lines, r.n_lines_kept, r.text_clean)
           for r in dedup_lines_corpus(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2] == (0, 0, "")
    assert out[3] == (0, 0, "")
    assert out[4] == (1, 0, "")  # its only line first occurred in doc 1
    assert out[1] == (2, 2, "keep me.\nshared line")
