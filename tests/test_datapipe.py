"""Training-data pipeline ops: dedup / similarity / textstats / multimodal.

Value-level parity with DuckDB is covered by tools/check_contract.py (and
the driver's oracle gate); these tests pin the operator semantics on small
literal inputs where expected values are hand-computable.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.dedup import (
    exact_dedup_groups,
    hamming_distance_col,
    minhash_dedup_pairs,
    shingles_col,
    simhash_col,
)
from crawl4ai_spark.datapipe.multimodal import blob_meta, extract_blob_features, sample_frames
from crawl4ai_spark.datapipe.similarity import (
    ann_bruteforce_topk,
    ann_ivf_topk,
    cosine_col,
    hyperplanes,
    ivf_cell_col,
    ivf_centroids,
)
from crawl4ai_spark.datapipe.textstats import (
    fingerprint_col,
    lang_id_col,
    portable_hash,
    quality_score_col,
    token_count_col,
)


def test_portable_hash_matches_md5(spark):
    out = spark.range(1).select(portable_hash(F.lit("abc")).alias("h")).collect()[0]
    assert out.h == int(hashlib.md5(b"abc").hexdigest()[:15], 16)


def test_tokens_and_fingerprint(spark):
    df = spark.createDataFrame([("  The  cat SAT ",), ("the cat sat",)], "text string")
    rows = df.select(
        token_count_col("text").alias("n"), fingerprint_col("text").alias("fp")
    ).collect()
    assert [r.n for r in rows] == [3, 3]
    # whitespace/case-canonical: both rows share one fingerprint
    assert rows[0].fp == rows[1].fp


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog in a house",), ("der hund und die katze ist da",), ("zzz qqq",)],
        "text string",
    )
    out = [r[0] for r in df.select(lang_id_col("text")).collect()]
    assert out == ["en", "de", "und"]


def test_quality_bounds(spark):
    df = spark.createDataFrame([("the quick brown fox jumps over the lazy dog",)], "text string")
    v = df.select(quality_score_col("text").alias("q")).collect()[0].q
    assert 0.0 <= v <= 1.0


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b   c"), (3, "different text")], "doc_id long, text string"
    )
    out = {r.representative_id: r.n_docs for r in exact_dedup_groups(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    sh = df.select(shingles_col("text", 3).alias("s")).collect()[0].s
    assert sh == ["one two"]


def test_minhash_finds_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("alpha ", "", 1)
    far = "completely different words entirely unrelated content here now " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_dedup_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_hamming(spark):
    df = spark.createDataFrame(
        [("spark engine crawl frontier budget window rank", "spark engine crawl frontier budget window rank")],
        "a string, b string",
    )
    row = df.select(
        hamming_distance_col(simhash_col("a"), simhash_col("b")).alias("h")
    ).collect()[0]
    assert row.h == 0


def test_cosine_and_ann(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], "a array<double>, b array<double>")
    assert df.select(cosine_col(F.col("a"), F.col("b")).alias("c")).collect()[0].c == 0.0
    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    top = ann_bruteforce_topk(emb, queries, k=2).orderBy("rank").collect()
    assert [r.vec_id for r in top] == [1, 2]  # nearest first, self excluded


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    # nprobe = n_cells ⇒ every cell probed ⇒ provably identical to
    # brute-force (each corpus vector lives in exactly one cell)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    bf = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in ann_bruteforce_topk(e, q, k=4).collect()
    }
    ivf = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in ann_ivf_topk(e, q, n_cells=5, nprobe=5, k=4).collect()
    }
    assert ivf == bf


def test_ivf_nprobe_prunes_and_recalls(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    out = ann_ivf_topk(e, q, n_cells=8, nprobe=1, k=4).collect()
    # a query's own cell always contains its nearest-by-construction
    # neighborhood seed: results exist and ranks are contiguous from 1
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert by_q and all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    # nprobe=1 visits a strict subset of the corpus ⇒ per-query candidate
    # cosines are a subset of the brute-force score set
    bf = {(r.query_id, r.vec_id) for r in ann_bruteforce_topk(e, q, k=10_000).collect()}
    assert {(r.query_id, r.vec_id) for r in out} <= bf


def test_ivf_table_probe_matches_inline_and_prunes_scan(spark, sf_dir, tmp_path):
    from crawl4ai_spark.datapipe.similarity import write_ivf_table

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    cents = ivf_centroids(e, 8, iters=1)
    path = str(tmp_path / "ivf_table")
    write_ivf_table(e, path, cents)
    table = spark.read.parquet(path)
    probed = ann_ivf_topk(
        table, q, nprobe=2, k=4, centroids=cents, cell_col="ivf_cell"
    )
    inline = ann_ivf_topk(e, q, nprobe=2, k=4, centroids=cents)
    assert {tuple(r) for r in probed.collect()} == {tuple(r) for r in inline.collect()}
    # the table scan must be partition-pruned to the probed cells: the IN
    # filter lands in PartitionFilters, not a post-scan Filter over all rows
    plan = probed._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ivf_cell" in seg and "IN" in seg.upper()
    # missing centroids with cell_col is a contract error, not silence
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ann_ivf_topk(table, q, nprobe=2, k=4, cell_col="ivf_cell")


def test_ivf_table_append_grows_exactly(spark, sf_dir, tmp_path):
    """The ANN half of the daily-increment pattern: append_ivf_table adds
    a vector batch under the table's PERSISTED quantizer, after which a
    full-probe query over the grown table equals brute force over the
    union — any assignment drift between write and append (lost
    centroids, float roundtrip error) breaks the equality. Pruned probes
    must keep their PartitionFilters across generations."""
    from crawl4ai_spark.datapipe.similarity import (
        ann_bruteforce_topk,
        append_ivf_table,
        read_ivf_centroids,
        write_ivf_table,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = e.filter("vec_id % 3 != 0")
    batch = e.filter("vec_id % 3 = 0").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    cents = ivf_centroids(old, 6, iters=1)
    path = str(tmp_path / "ivf_grow")
    write_ivf_table(old, path, cents)
    assert read_ivf_centroids(path) == cents  # exact float roundtrip
    append_ivf_table(batch, path)
    table = spark.read.parquet(path)
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    got = ann_ivf_topk(
        table, q, nprobe=6, k=5, centroids=cents, cell_col="ivf_cell"
    )
    want = ann_bruteforce_topk(old.unionByName(batch), q, k=5)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    # pruning still works on the grown table
    pruned = ann_ivf_topk(
        table, q, nprobe=2, k=5, centroids=cents, cell_col="ivf_cell"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ivf_cell" in seg and "IN" in seg.upper()


def test_ivf_centroids_deterministic_and_lloyd(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    c1 = ivf_centroids(emb, 4)
    c2 = ivf_centroids(emb, 4)
    assert c1 == c2  # layout-independent hash seeding
    # contiguous cell ids; duplicate seed VECTORS are deduped (this corpus
    # has repeats among the 4 smallest hashes), so ≤ 4 distinct centroids
    assert [cid for cid, _ in c1] == list(range(len(c1))) and 1 <= len(c1) <= 4
    assert len({tuple(v) for _, v in c1}) == len(c1)
    refined = ivf_centroids(emb, 4, iters=2)
    assert len(refined) == len(c1) and refined != c1  # Lloyd moved the means
    # assignment is total: every vector lands in exactly one valid cell
    cells = emb.select(
        ivf_cell_col(F.col("embedding"), refined).alias("c")
    ).collect()
    assert all(0 <= r.c < len(refined) for r in cells)


def test_hyperplanes_deterministic():
    assert hyperplanes(2, 4) == hyperplanes(2, 4)
    assert all(-1.0 <= v <= 1.0 for row in hyperplanes(4, 16) for v in row)


def test_blob_meta_and_features(spark):
    df = spark.createDataFrame(
        [("u1", bytearray(b"\x89PNG1234567890")), ("u2", bytearray(b"<html>hi</html>"))],
        "url string, blob binary",
    )
    meta = {r.url: r for r in blob_meta(df).collect()}
    assert meta["u1"].media_kind == "image/png"
    assert meta["u2"].media_kind == "application/octet-stream"
    assert meta["u1"].n_bytes == 14

    feats = {r.url: r for r in extract_blob_features(df).collect()}
    assert len(feats["u1"].feature) == 16
    assert abs(sum(feats["u2"].feature) - 1.0) < 1e-9


def test_frame_sample(spark):
    df = spark.createDataFrame([("u1", bytearray(b"x" * 2500))], "url string, blob binary")
    frames = sample_frames(df, every_n=1000).collect()
    assert [(r.frame_idx, r.offset) for r in frames] == [(0, 0), (1, 1000), (2, 2000)]
    assert frames[0].digest == hashlib.md5(b"x" * 1000).hexdigest()


def test_connected_components_chain_and_star(spark):
    from crawl4ai_spark.datapipe.components import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, star 10-(11,12,13), singleton edge 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_connected_components_round_cap(spark):
    import pytest

    from crawl4ai_spark.datapipe.components import (
        _connected_components_label,
        connected_components,
    )

    # a 12-node path needs ~11 label rounds; propagation capped at 3 must
    # raise (never silently return partial labels) ...
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _connected_components_label(edges, max_rounds=3)
    # ... while connected_components falls back to star contraction when
    # its probe cap trips, and completes
    full = connected_components(edges)
    assert {r.component for r in full.collect()} == {0}


def test_connected_components_auto_probes_before_fallback(spark, monkeypatch):
    """connected_components must NOT pay a long run of doomed propagation
    on a chain-shaped graph: the propagation probe is capped at
    AUTO_PROBE_ROUNDS, then the star contraction takes over — and the
    result is still the exact components."""
    import crawl4ai_spark.datapipe.components as comp

    seen_caps = []
    orig = comp._connected_components_label

    def spy(edges, src="id_a", dst="id_b", max_rounds=25):
        seen_caps.append(max_rounds)
        return orig(edges, src, dst, max_rounds)

    monkeypatch.setattr(comp, "_connected_components_label", spy)
    # a 40-node path: diameter 39 ≫ any sane propagation budget
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    got = {r.node: r.component
           for r in comp.connected_components(edges).collect()}
    assert got == {i: 0 for i in range(41)}
    assert seen_caps == [comp.AUTO_PROBE_ROUNDS]


def test_connected_components_star_matches_label(spark):
    """Differential gate: the large-star/small-star contraction labels
    exactly as min-label propagation on a mixed graph (two merged
    quasi-cliques, a chain, a star, isolated pairs)."""
    from crawl4ai_spark.datapipe.components import (
        _connected_components_label,
        connected_components_star,
    )

    rows = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]  # clique 0-4
        + [(4, 50), (50, 51), (51, 52)]                      # tail chain
        + [(100, 101), (100, 102), (100, 103)]               # star
        + [(200, 201)]
    )
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    a = {(r.node, r.component)
         for r in _connected_components_label(edges, max_rounds=25).collect()}
    b = {(r.node, r.component)
         for r in connected_components_star(edges).collect()}
    assert a == b and a


def test_connected_components_star_long_chain_few_rounds(spark):
    """A 60-node path (diameter 59) — the shape label propagation cannot
    finish inside its cap — converges via contraction in O(log n) rounds
    to the single component rooted at the minimum."""
    from crawl4ai_spark.datapipe.components import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in connected_components_star(edges).collect()}
    assert got == {i: 0 for i in range(61)}


def test_minhash_dedup_groups_transitive(spark):
    from crawl4ai_spark.datapipe.components import minhash_dedup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    bridge = base + " " + other
    df = spark.createDataFrame(
        [(0, base), (1, other), (2, bridge), (3, "unrelated words entirely distinct corpus")],
        "doc_id long, text string",
    )
    # bands=16 (one signature row per band) maximizes candidate recall so
    # the marginal bridge pairs (jaccard ≈ 0.45) deterministically surface
    rows = {r.doc_id: r for r in minhash_dedup_groups(
        df, "doc_id", "text", num_hashes=16, bands=16, threshold=0.3).collect()}
    # 0~2 and 1~2 but 0 !~ 1: all three must share one group via the bridge
    assert rows[0].group_id == rows[1].group_id == rows[2].group_id == 0
    assert rows[0].group_size == 3
    assert rows[3].group_id == 3 and rows[3].group_size == 1
    assert rows[0].is_representative and rows[3].is_representative
    assert not rows[2].is_representative


# -- decontamination ----------------------------------------------------------


def test_decontaminate_flags_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "beta gamma delta zeta eta"),
            (3, "one two three four five"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("beta gamma delta",)], ["text"]
    )
    from crawl4ai_spark.datapipe.decontam import decontaminate

    out = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
        for r in decontaminate(
            corpus, bench, "doc_id", "text", n=3
        ).collect()
    }
    # docs 1 and 2 share the 3-gram "beta gamma delta" with the benchmark
    assert out[1] == (3, 1, True)
    assert out[2] == (3, 1, True)
    assert out[3] == (3, 0, False)
    # < n tokens → no grams, never contaminated
    assert out[4] == (0, 0, False)


def test_decontaminate_counts_distinct_shared_grams(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d e f")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([("a b c d",)], ["text"])
    from crawl4ai_spark.datapipe.decontam import decontaminate

    row = decontaminate(corpus, bench, "doc_id", "text", n=3).collect()[0]
    # benchmark grams {abc, bcd} both occur in the doc's 4 grams
    assert (row["n_grams"], row["n_hits"]) == (4, 2)


def test_decontaminate_plan_broadcast_strategy(spark):
    """The benchmark gram set is explicitly broadcast (always small); the
    per-doc hit table deliberately carries NO broadcast hint — AQE
    broadcasts it at runtime when small, and a pathologically contaminated
    corpus degrades to a shuffle join instead of a forced driver OOM."""
    corpus = spark.createDataFrame(
        [(i, f"w{i} x y z q r s t") for i in range(50)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([("x y z q",)], ["text"])
    from crawl4ai_spark.datapipe.decontam import decontaminate

    out = decontaminate(corpus, bench, "doc_id", "text", n=3)
    static = out._jdf.queryExecution().executedPlan().toString()
    # the gram-probe join broadcasts statically (explicit hint)
    assert static.count("BroadcastHashJoin") >= 1
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    # at runtime AQE sees the tiny hit table and broadcasts that join too
    # (count only the final-plan section — the string also embeds the
    # initial plan)
    assert "isFinalPlan=true" in final
    assert final.split("== Initial Plan ==")[0].count("BroadcastHashJoin") == 2


# -- sequence packing + source mixing -----------------------------------------


def test_pack_sequences_windows(spark):
    from crawl4ai_spark.datapipe.sharding import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "x y")], ["doc_id", "text"]
    )
    rows = {
        (r["doc_id"], r["seq_no"]): (r["n_tokens"], r["seq_text"])
        for r in pack_sequences(df, "doc_id", "text", seq_len=2).collect()
    }
    assert rows[(1, 0)] == (2, "a b")
    assert rows[(1, 1)] == (2, "c d")
    assert rows[(1, 2)] == (1, "e")          # short tail kept
    assert rows[(3, 0)] == (2, "x y")
    assert not any(d == 2 for d, _ in rows)  # empty doc -> no windows

    full = pack_sequences(df, "doc_id", "text", seq_len=2,
                          drop_last_partial=True).collect()
    assert all(r["n_tokens"] == 2 for r in full)
    assert len(full) == 3


def test_mix_sources_probabilities_and_determinism(spark):
    from crawl4ai_spark.datapipe.sampling import mix_sources

    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(100)],
        ["doc_id", "source"],
    )
    out = mix_sources(df, "doc_id", "source", {"big": 1.0, "small": 1.0},
                      total=40, salt="t", portable=True)
    probs = {r["source"]: r["keep_prob"] for r in out.collect()}
    # target 20 docs each: big keeps 20/80, small keeps 20/20 -> capped 1.0
    assert probs["big"] == 0.25
    assert probs["small"] == 1.0
    small_kept = out.filter(F.col("source") == "small").count()
    assert small_kept == 20  # prob 1.0 keeps everything
    # deterministic: same inputs -> identical kept set on a different layout
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in mix_sources(df.repartition(7), "doc_id", "source",
                             {"big": 1.0, "small": 1.0}, total=40,
                             salt="t", portable=True).collect()
    )
    assert a == b
    # zero-weight source drops entirely
    none = mix_sources(df, "doc_id", "source", {"small": 1.0}, total=10,
                       salt="t", portable=True)
    assert none.filter(F.col("source") == "big").count() == 0


# -- LSH hot-bucket guard -----------------------------------------------------


def test_minhash_hot_bucket_guard_diverts_to_star(spark):
    """A degenerate bucket (many identical docs) above the cap must emit
    linear star pairs (min doc_id ↔ member), not the quadratic clique —
    and every star pair still verifies at jaccard 1.0."""
    from crawl4ai_spark.datapipe.dedup import hot_bucket_stats, minhash_dedup_pairs

    same = "identical boilerplate page text repeated across the corpus " * 2
    rows = [(i, same) for i in range(40)] + [
        (100, "a genuinely different document about spark shuffles here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup_pairs(df, "doc_id", "text", hot_bucket_cap=10).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # star shape: 39 pairs, every one anchored at the representative (0)
    assert got == {(0, i) for i in range(1, 40)}
    assert all(r.jaccard == 1.0 for r in pairs)
    # and the diversion is visible, not silent
    hot = hot_bucket_stats(df, "doc_id", "text", cap=10).collect()
    assert hot and all(r.n_docs == 40 for r in hot)


def test_minhash_hot_bucket_guard_no_op_below_cap(spark):
    """On a corpus with no oversized bucket the guarded output is
    pair-for-pair identical to the unguarded quadratic path."""
    from crawl4ai_spark.datapipe.dedup import minhash_dedup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [(1, base), (2, base.replace("alpha ", "", 1)),
            (3, "completely different words entirely unrelated content " * 3),
            (4, base.replace("kappa ", "", 1))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = {(r.id_a, r.id_b, r.jaccard)
               for r in minhash_dedup_pairs(df, "doc_id", "text",
                                            hot_bucket_cap=16).collect()}
    unguarded = {(r.id_a, r.id_b, r.jaccard)
                 for r in minhash_dedup_pairs(df, "doc_id", "text",
                                              hot_bucket_cap=1 << 30).collect()}
    assert guarded == unguarded and guarded
    # cap=None bypasses the guard windows entirely (the caller-bounded
    # small-corpus fast path) — output must still be identical
    bypassed = {(r.id_a, r.id_b, r.jaccard)
                for r in minhash_dedup_pairs(df, "doc_id", "text",
                                             hot_bucket_cap=None).collect()}
    assert bypassed == guarded


def test_minhash_hot_bucket_guard_groups_stay_connected(spark):
    """Star diversion must preserve the connected component the dedup
    grouping consumes: one group, all members, same representative."""
    from crawl4ai_spark.datapipe.components import minhash_dedup_groups

    same = "identical boilerplate page text repeated across the corpus " * 2
    rows = [(i, same) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = minhash_dedup_groups(df, "doc_id", "text", hot_bucket_cap=8)
    got = {(r[0], r[1]) for r in groups.select("doc_id", "group_id").collect()}
    assert got == {(i, 0) for i in range(30)}


def test_bloom_staged_merge_matches_flat_merge(spark):
    """The executor-side OR stage (wide inputs) must produce bit-identical
    blooms to the direct driver merge, whatever the partitioning."""
    from crawl4ai_spark.operators.seen import build_bloom

    urls = spark.range(2_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 37).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url_norm")
    )
    wide = build_bloom(urls.repartition(64), num_bits=1 << 16, merge_fanin=8)
    narrow = build_bloom(urls.repartition(4), num_bits=1 << 16, merge_fanin=8)
    assert (wide.bits == narrow.bits).all()
    # driver traffic stays flat as input partitions grow: the 64-partition
    # build collects at most merge_fanin bitsets, not one per partition
    assert wide.n_collected_bitsets <= 8
    assert narrow.n_collected_bitsets <= 4
    probe = urls.limit(50)
    from crawl4ai_spark.operators.seen import bloom_maybe_contains_col

    hits = probe.select(
        bloom_maybe_contains_col(spark, wide, F.col("url_norm")).alias("m")
    ).collect()
    assert all(r.m for r in hits)


# -- full linkage-method surface for cosine clustering (T23) ------------------


def _angle_vecs():
    """Unit vectors at 0°/18°/36°/54°: neighbor cosine distance ≈ 0.0489,
    end-to-end ≈ 0.412 — a chain that single linkage merges at t=0.1 but
    complete/average/ward split 2+2."""
    import math

    return [
        (i, [math.cos(math.radians(18 * i)), math.sin(math.radians(18 * i))])
        for i in range(4)
    ]


def test_cosine_cluster_linkage_methods_differ_on_chain(spark):
    from crawl4ai_spark.datapipe.similarity import cosine_cluster_linkage

    df = spark.createDataFrame(_angle_vecs(), "vec_id long, embedding array<double>")
    planes = [[1.0, 0.0]]  # all four vectors share one bucket
    expect = {
        "single": {0: 0, 1: 0, 2: 0, 3: 0},
        "complete": {0: 0, 1: 0, 2: 2, 3: 2},
        "average": {0: 0, 1: 0, 2: 2, 3: 2},
        "ward": {0: 0, 1: 0, 2: 2, 3: 2},
    }
    for method, want in expect.items():
        got = {
            r.vec_id: r.cluster_label
            for r in cosine_cluster_linkage(
                df, planes, max_dist=0.1, linkage_method=method
            ).collect()
        }
        assert got == want, f"{method}: {got}"


def test_cosine_cluster_linkage_single_matches_components(spark, sf_dir):
    """Differential gate: linkage_method='single' must produce exactly the
    connected-components clustering the SQL-provable cosine_cluster
    computes, on the real embeddings corpus with perturbation chains."""
    from crawl4ai_spark.datapipe.similarity import (
        cosine_cluster,
        cosine_cluster_linkage,
    )
    from crawl4ai_spark.contract import _PLANES

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") + 0.01),
            F.transform(F.slice("embedding", 2, 63), lambda x: x.cast("double")),
        ).alias("embedding"),
    )
    corpus = base.unionByName(pert)
    a = {(r.vec_id, r.cluster_label, r.cluster_size)
         for r in cosine_cluster(corpus, _PLANES, max_dist=0.01).collect()}
    b = {(r.vec_id, r.cluster_label, r.cluster_size)
         for r in cosine_cluster_linkage(
             corpus, _PLANES, max_dist=0.01, linkage_method="single"
         ).collect()}
    assert a == b and a


def test_cosine_cluster_linkage_ward_handcase(spark):
    """Ward merge order on a hand-computed 3-point case: two near points
    and one distant point; at t below the Ward joint distance the pair
    clusters and the far point stays a singleton."""
    import math

    from crawl4ai_spark.datapipe.similarity import cosine_cluster_linkage

    pts = [
        (0, [1.0, 0.0]),
        (1, [math.cos(0.1), math.sin(0.1)]),      # d(0,1) ≈ 0.005
        (2, [math.cos(1.2), math.sin(1.2)]),      # far from both
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster_label, r.cluster_size)
        for r in cosine_cluster_linkage(
            df, [[1.0, 0.0]], max_dist=0.05, linkage_method="ward"
        ).collect()
    }
    assert out == {0: (0, 2), 1: (0, 2), 2: (2, 1)}


def test_guarded_band_candidates_two_layer_star(spark):
    """Direct shape test of the hot-bucket guard: an over-cap bucket with
    two identical-signature groups and an outlier min-id row must emit
    (group_rep, member) stars within each signature group plus
    (bucket_rep, group_rep) rep-level edges — never a member-member
    clique, and never a raw (outlier, member) edge that would let a
    failing outlier verify disconnect identical members."""
    from crawl4ai_spark.datapipe.dedup import _guarded_band_candidates

    rows = (
        # bucket B: outlier doc 0 (own sig), group X = docs 1..5,
        # group Y = docs 10..14  → 11 rows, cap 4 → hot
        [(0, 999, 1, 7)]
        + [(i, 111, 1, 7) for i in range(1, 6)]
        + [(i, 222, 1, 7) for i in range(10, 15)]
        # bucket C: small, self-joins as a clique
        + [(20, 333, 1, 8), (21, 444, 1, 8)]
    )
    banded = spark.createDataFrame(
        rows, "doc_id long, sig_fp long, band_id int, band_key long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in _guarded_band_candidates(
            banded, ["band_id", "band_key"], cap=4
        ).collect()
    }
    want = (
        {(1, i) for i in range(2, 6)}          # group X star
        | {(10, i) for i in range(11, 15)}     # group Y star
        | {(0, 1), (0, 10)}                    # rep-level star
        | {(20, 21)}                           # normal bucket clique
    )
    assert got == want


def test_minhash_tables_without_sig_fp_still_readable(spark):
    """Band tables persisted before the hot-bucket guard carried no sig_fp
    column; the reader must degrade to the single-layer star (sig_fp =
    doc_id) instead of crashing the amortized-table workflow."""
    from crawl4ai_spark.datapipe.dedup import (
        minhash_pairs_from_tables,
        write_minhash_tables,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("alpha ", "", 1)),
         (3, "completely different words entirely unrelated content " * 3)],
        "doc_id long, text string",
    )
    write_minhash_tables(df, "doc_id", "text", "t_compat", hash_fn=F.xxhash64,
                         buckets=2)
    want = {(r.id_a, r.id_b) for r in
            minhash_pairs_from_tables(spark, "t_compat").collect()}
    # strip sig_fp to simulate a pre-guard table (drop any orphaned
    # warehouse location from a previous test session first — same
    # housekeeping write_minhash_tables does for its own tables)
    from crawl4ai_spark.datapipe.dedup import _drop_table

    for t in ("t_compat_legacy_bands", "t_compat_legacy_shingles"):
        _drop_table(spark, t)
    legacy = spark.table("t_compat_bands").drop("sig_fp")
    legacy.write.mode("overwrite").format("parquet").bucketBy(
        2, "band_key").sortBy("band_key").saveAsTable("t_compat_legacy_bands")
    spark.table("t_compat_shingles").write.mode("overwrite").format(
        "parquet").bucketBy(2, "doc_id").sortBy("doc_id").saveAsTable(
        "t_compat_legacy_shingles")
    got = {(r.id_a, r.id_b) for r in
           minhash_pairs_from_tables(spark, "t_compat_legacy").collect()}
    assert got == want and (1, 2) in got


def test_minhash_increment_matches_from_scratch_and_grows(spark, sf_dir):
    """The daily-increment pattern: pairs from minhash_pairs_increment
    against the pre-bucketed corpus tables must equal the from-scratch
    pairs over (corpus ∪ batch) restricted to pairs touching the batch —
    then append_minhash_tables grows the tables and (a) the full
    from-tables read equals from-scratch over the union, (b) a SECOND
    increment against the grown tables stays exact. Any mis-banding, fold
    drift, or mis-bucketed append (insertInto-style) breaks one of the
    three equalities."""
    from crawl4ai_spark.datapipe.dedup import (
        append_minhash_tables,
        minhash_dedup_pairs,
        minhash_pairs_from_tables,
        minhash_pairs_increment,
        write_minhash_tables,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)

    def perturb(src, base):
        return src.select(
            (F.col("doc_id") + base).alias("doc_id"),
            F.concat(F.lit(" "), "text", F.lit("  ")).alias("text"),
        )

    # batch 1: near-dups of corpus docs AND of other batch-1 docs
    batch1 = perturb(corpus.filter(F.col("doc_id") % 2 == 0), 1_000_000).unionByName(
        perturb(corpus.filter(F.col("doc_id") % 2 == 0), 2_000_000)
    )
    write_minhash_tables(corpus, "doc_id", "text", "t_inc", hash_fn=F.xxhash64,
                         buckets=4)
    inc1 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_pairs_increment(spark, batch1, "t_inc",
                                         hash_fn=F.xxhash64).collect()
    }
    union1 = corpus.unionByName(batch1)
    scratch1 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(union1, "doc_id", "text",
                                     hash_fn=F.xxhash64).collect()
        if r.id_a >= 1_000_000 or r.id_b >= 1_000_000
    }
    assert inc1 == scratch1 and len(inc1) > 0
    # some pairs must be cross (corpus×batch) AND some intra-batch
    assert any(a < 1_000_000 for a, _, _ in inc1)
    assert any(a >= 1_000_000 for a, _, _ in inc1)

    append_minhash_tables(spark, batch1, "t_inc", hash_fn=F.xxhash64, buckets=4)
    grown = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_pairs_from_tables(spark, "t_inc",
                                           hot_bucket_cap=None).collect()
    }
    scratch_all = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(union1, "doc_id", "text", hash_fn=F.xxhash64,
                                     hot_bucket_cap=None).collect()
    }
    assert grown == scratch_all

    batch2 = perturb(corpus.filter(F.col("doc_id") % 2 == 1), 3_000_000)
    inc2 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_pairs_increment(spark, batch2, "t_inc",
                                         hash_fn=F.xxhash64).collect()
    }
    scratch2 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(union1.unionByName(batch2), "doc_id", "text",
                                     hash_fn=F.xxhash64).collect()
        if r.id_a >= 3_000_000 or r.id_b >= 3_000_000
    }
    assert inc2 == scratch2 and len(inc2) > 0


def test_minhash_increment_hot_bucket_stays_guarded_and_exact(spark):
    """Degenerate corpus bucket (2,500 identical docs, over the default
    HOT_BUCKET_CAP) + an identical-doc batch: the increment must emit
    exactly the guarded from-scratch star edges restricted to the batch —
    not a corpus×batch bipartite clique — and stay linear. This is the
    shape where a naive cross join diverges from the guard semantics AND
    blows up; the shared-guard construction makes both impossible by
    running the same _guarded_band_candidates pass over the union
    bucket."""
    from crawl4ai_spark.datapipe.dedup import (
        minhash_dedup_pairs,
        minhash_pairs_increment,
        write_minhash_tables,
    )

    ident = spark.range(2_500).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate body text " * 8).alias("text"),
    )
    write_minhash_tables(ident, "doc_id", "text", "t_hot_inc",
                         hash_fn=F.xxhash64, buckets=4)
    batch = spark.range(40).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("identical boilerplate body text " * 8).alias("text"),
    )
    inc = {
        (r.id_a, r.id_b)
        for r in minhash_pairs_increment(spark, batch, "t_hot_inc",
                                         hash_fn=F.xxhash64).collect()
    }
    scratch = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(ident.unionByName(batch), "doc_id", "text",
                                     hash_fn=F.xxhash64).collect()
        if r.id_a >= 1_000_000 or r.id_b >= 1_000_000
    }
    assert inc == scratch
    # star semantics: every batch doc links into the identical-signature
    # group linearly (one edge per member), not 2500 edges per member
    assert len(inc) == 40


def test_append_minhash_tables_torn_append_fails_loud(spark, sf_dir):
    """The two-table append is not one transaction: a crash between the
    shingle and band appends leaves docs that silently never candidate,
    and a blind retry double-appends. The pending marker must turn both
    into a loud error naming the rebuild remedy."""
    import os

    import pytest as _pytest

    from crawl4ai_spark.datapipe.dedup import (
        _table_location,
        append_minhash_tables,
        write_minhash_tables,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 40")
    )
    write_minhash_tables(docs, "doc_id", "text", "t_torn", hash_fn=F.xxhash64,
                         buckets=2)
    batch = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    marker = os.path.join(
        _table_location(spark, "t_torn_shingles"), "_append_pending"
    )
    with open(marker, "w") as f:
        f.write("simulated crash mid-append")
    with _pytest.raises(RuntimeError, match="did not complete"):
        append_minhash_tables(spark, batch, "t_torn", hash_fn=F.xxhash64,
                              buckets=2)
    os.remove(marker)
    append_minhash_tables(spark, batch, "t_torn", hash_fn=F.xxhash64, buckets=2)
    assert not os.path.exists(marker)  # cleared after a clean append
    assert spark.table("t_torn_shingles").count() == 80


def test_compact_minhash_tables_folds_generations(spark, sf_dir):
    """The minhash leg of the compaction story: appends stack one file
    per bucket per generation; compact_minhash_tables rewrites both
    tables back to one generation from their OWN rows (no signature
    recompute), after which the pairs read is unchanged, the bucketed
    join stays exchange-free, and a further increment/append still
    works. Also: the swap leaves nothing behind, and compaction refuses
    over a torn append."""
    import os

    import pytest as _pytest

    from crawl4ai_spark.datapipe.dedup import (
        _table_location,
        append_minhash_tables,
        compact_minhash_tables,
        minhash_pairs_from_tables,
        minhash_pairs_increment,
        write_minhash_tables,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 60")
    )
    write_minhash_tables(docs, "doc_id", "text", "t_cmp", hash_fn=F.xxhash64,
                         buckets=2)
    for gen in (1, 2):
        batch = docs.select(
            (F.col("doc_id") + gen * 1_000_000).alias("doc_id"),
            F.concat(F.lit(" "), "text").alias("text"),
        )
        append_minhash_tables(spark, batch, "t_cmp", hash_fn=F.xxhash64,
                              buckets=2)
    before = {
        tuple(r)
        for r in minhash_pairs_from_tables(spark, "t_cmp").collect()
    }
    assert len(before) > 0

    def siblings(t):
        # the warehouse outlives the session, so an aborted earlier run
        # may have left entries here; compare against what was there
        parent, base = os.path.split(_table_location(spark, f"t_cmp_{t}"))
        return {e for e in os.listdir(parent) if e.startswith(base + ".")}

    left = {t: siblings(t) for t in ("shingles", "bands")}
    stats = compact_minhash_tables(spark, "t_cmp", buckets=2)
    for t in ("shingles", "bands"):
        assert stats[t]["files_after"] <= 2  # one generation per bucket
        assert stats[t]["files_after"] < stats[t]["files_before"]
        # the swap leaves no staging catalog entry, marker or sibling copy
        assert not spark.catalog.tableExists(f"t_cmp_{t}__compacting")
        assert siblings(t) <= left[t]
    out = minhash_pairs_from_tables(spark, "t_cmp")
    assert {tuple(r) for r in out.collect()} == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(band_key" not in plan  # still exchange-free
    # growth keeps working on the compacted tables
    batch3 = docs.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.lit(" "), "text").alias("text"),
    )
    inc = minhash_pairs_increment(spark, batch3, "t_cmp", hash_fn=F.xxhash64)
    assert inc.count() > 0
    spark.catalog.clearCache()
    # torn-append marker blocks compaction (it would bake the tear in)
    pend = os.path.join(
        _table_location(spark, "t_cmp_shingles"), "_append_pending"
    )
    with open(pend, "w") as f:
        f.write("simulated")
    with _pytest.raises(RuntimeError, match="did not complete"):
        compact_minhash_tables(spark, "t_cmp", buckets=2)
    os.remove(pend)


def test_minhash_tables_survive_a_process_restart(spark, sf_dir, tmp_path):
    """The session catalog is in-memory while the warehouse directory
    persists, so tables written by another process have files but no
    catalog entry here. The readers register the entry over the files
    with the bucket spec from the params sidecar: the pairs equal the
    writer's, and the band_key self-join stays exchange-free. A table
    with no sidecar is refused by name."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    import uuid

    from crawl4ai_spark.datapipe.dedup import (
        _drop_table,
        _table_location,
        minhash_pairs_from_tables,
    )

    prefix = f"t_restart_{uuid.uuid4().hex[:8]}"
    orphan = f"{prefix}x"
    out = tmp_path / "pairs.json"
    writer = f"""
import json
from pyspark.sql import functions as F
from crawl4ai_spark.session import get_spark
from crawl4ai_spark.datapipe.dedup import (
    minhash_pairs_from_tables, write_minhash_tables,
)
spark = get_spark(app_name="minhash-writer", cores=2, shuffle_partitions=4)
docs = (spark.read.parquet({sf_dir!r} + "/documents.parquet")
        .select("doc_id", "text").filter("doc_id < 60"))
write_minhash_tables(docs, "doc_id", "text", {prefix!r}, hash_fn=F.xxhash64,
                     buckets=4)
pairs = [list(r) for r in minhash_pairs_from_tables(spark, {prefix!r}).collect()]
json.dump(pairs, open({str(out)!r}, "w"))
spark.stop()
"""
    env = dict(
        os.environ,
        SPARK_GRAFT_WAREHOUSE=spark.conf.get("spark.sql.warehouse.dir"),
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        subprocess.run([sys.executable, "-c", writer], cwd=repo, env=env,
                       check=True, timeout=600)
        expected = {tuple(r) for r in json.load(open(out))}
        assert expected
        assert not spark.catalog.tableExists(f"{prefix}_bands")
        got = minhash_pairs_from_tables(spark, prefix)
        assert {tuple(r) for r in got.collect()} == expected
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(band_key" not in plan
        # the same files under a name whose sidecar is missing
        shutil.copytree(_table_location(spark, f"{prefix}_bands"),
                        _table_location(spark, f"{orphan}_bands"))
        with pytest.raises(ValueError, match=f"{orphan}_bands"):
            minhash_pairs_from_tables(spark, orphan)
    finally:
        for name in (f"{prefix}_shingles", f"{prefix}_bands", f"{orphan}_bands"):
            _drop_table(spark, name)


def test_minhash_window_b_crash_recovers_in_a_fresh_process(spark, sf_dir, tmp_path):
    """A compaction that crashed between its two renames leaves the bands
    table's directory renamed to ``.precompact-*``, the compacted copy in
    ``.compacting-*`` and the marker beside them; the catalog entry died
    with the process. A fresh session's accessor recovers the swap before
    it registers the table, so the pairs equal the pre-crash ones and the
    next compaction runs."""
    import json
    import os
    import subprocess
    import sys
    import uuid

    from crawl4ai_spark.datapipe.dedup import (
        _drop_table,
        _table_location,
        compact_minhash_tables,
        minhash_pairs_from_tables,
    )
    from crawl4ai_spark.storage import _marker_path

    prefix = f"t_winb_{uuid.uuid4().hex[:8]}"
    out = tmp_path / "pairs.json"
    writer = f"""
import json, os, shutil
from pyspark.sql import functions as F
from crawl4ai_spark.session import get_spark
from crawl4ai_spark.datapipe.dedup import (
    _table_location, minhash_pairs_from_tables, write_minhash_tables,
)
from crawl4ai_spark.storage import _marker_path
spark = get_spark(app_name="minhash-crash", cores=2, shuffle_partitions=4)
docs = (spark.read.parquet({sf_dir!r} + "/documents.parquet")
        .select("doc_id", "text").filter("doc_id < 60"))
write_minhash_tables(docs, "doc_id", "text", {prefix!r}, hash_fn=F.xxhash64,
                     buckets=4)
pairs = [list(r) for r in minhash_pairs_from_tables(spark, {prefix!r}).collect()]
json.dump(pairs, open({str(out)!r}, "w"))
loc = _table_location(spark, {prefix!r} + "_bands")
old, tmp = loc + ".precompact-crash", loc + ".compacting-crash"
os.rename(loc, old)
shutil.copytree(old, tmp)
json.dump({{"tmp": tmp, "old": old}}, open(_marker_path(loc), "w"))
spark.stop()
"""
    env = dict(
        os.environ,
        SPARK_GRAFT_WAREHOUSE=spark.conf.get("spark.sql.warehouse.dir"),
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    loc = _table_location(spark, f"{prefix}_bands")
    try:
        subprocess.run([sys.executable, "-c", writer], cwd=repo, env=env,
                       check=True, timeout=600)
        expected = {tuple(r) for r in json.load(open(out))}
        assert expected
        assert not os.path.exists(loc) and os.path.exists(_marker_path(loc))
        assert not spark.catalog.tableExists(f"{prefix}_bands")
        got = minhash_pairs_from_tables(spark, prefix)
        assert {tuple(r) for r in got.collect()} == expected
        assert not os.path.exists(_marker_path(loc))
        assert not os.path.exists(loc + ".precompact-crash")
        assert not os.path.exists(loc + ".compacting-crash")
        stats = compact_minhash_tables(spark, prefix)
        assert stats["bands"]["rows"] == spark.table(f"{prefix}_bands").count()
        again = minhash_pairs_from_tables(spark, prefix)
        assert {tuple(r) for r in again.collect()} == expected
    finally:
        for name in (f"{prefix}_shingles", f"{prefix}_bands"):
            _drop_table(spark, name)


def test_write_minhash_tables_discards_crash_debris(spark, sf_dir):
    """Rebuilding MinHash tables drops the old ones with everything a
    crashed compaction left beside them: the ``.compact-pending`` marker
    and the ``.compacting-*`` / ``.precompact-*`` copies."""
    import os
    import uuid

    from crawl4ai_spark.datapipe.dedup import (
        _drop_table,
        _table_location,
        write_minhash_tables,
    )
    from crawl4ai_spark.storage import _marker_path

    prefix = f"t_debris_{uuid.uuid4().hex[:8]}"
    locs = [_table_location(spark, f"{prefix}{s}") for s in ("_shingles", "_bands")]
    for loc in locs:
        for sibling in (".compacting-dead", ".precompact-dead"):
            os.makedirs(loc + sibling)
            open(os.path.join(loc + sibling, "part-0.parquet"), "w").close()
        with open(_marker_path(loc), "w") as f:
            f.write("{}")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 20")
    )
    try:
        write_minhash_tables(docs, "doc_id", "text", prefix, hash_fn=F.xxhash64,
                             buckets=2)
        for loc in locs:
            name = os.path.basename(loc)
            assert os.path.isdir(loc)
            assert not [
                e for e in os.listdir(os.path.dirname(loc))
                if e.startswith(name + ".")
            ]
    finally:
        for loc in locs:
            _drop_table(spark, os.path.basename(loc))


def test_minhash_compaction_crash_recovery(spark, sf_dir):
    """The bucketed MinHash tables compact through the same marker swap
    as the partitioned tables, so every crash window recovers from the
    files alone. Window B is the state a process crash leaves between
    the two renames: the table directory is gone and the complete
    compacted copy sits on disk, registered nowhere in the catalog; on
    the shingle table it also takes the params sidecar away, and the
    rewrite still keeps the table's bucket count. A stale copy of a
    crashed attempt is swept. After each recovery the pairs are
    unchanged and the bucketed join stays exchange-free."""
    import json
    import os
    import shutil
    import time
    import uuid

    from crawl4ai_spark.datapipe.dedup import (
        _table_location,
        append_minhash_tables,
        compact_minhash_tables,
        minhash_pairs_from_tables,
        write_minhash_tables,
    )
    from crawl4ai_spark.storage import ORPHAN_SWEEP_MIN_AGE_S, _marker_path

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 40")
    )
    write_minhash_tables(docs, "doc_id", "text", "t_crash", hash_fn=F.xxhash64,
                         buckets=2)
    append_minhash_tables(
        spark,
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    F.concat(F.lit(" "), "text").alias("text")),
        "t_crash", hash_fn=F.xxhash64, buckets=2,
    )
    before = {tuple(r) for r in minhash_pairs_from_tables(spark, "t_crash").collect()}
    assert before
    loc = _table_location(spark, "t_crash_bands")
    marker = _marker_path(loc)
    # the warehouse outlives the session: name this run's copies apart
    # from any an aborted earlier run left beside the table
    run = uuid.uuid4().hex[:8]

    def copy_renamed(src, dst):
        # a copy whose data files carry other names, as a real rewrite's
        # do; the trailing _<bucket id> Spark reads the bucket from stays
        shutil.copytree(src, dst)
        for f in os.listdir(dst):
            if not f.startswith(("_", ".")):
                os.rename(os.path.join(dst, f), os.path.join(dst, "r" + f))

    def check():
        out = minhash_pairs_from_tables(spark, "t_crash")
        assert {tuple(r) for r in out.collect()} == before
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(band_key" not in plan
        assert not os.path.exists(marker)

    # window A: copy and marker written, swap not started → the copy is
    # discarded and the call compacts afresh
    tmp = loc + f".compacting-a{run}"
    copy_renamed(loc, tmp)
    with open(marker, "w") as f:
        json.dump({"tmp": tmp, "old": loc + f".precompact-a{run}"}, f)
    compact_minhash_tables(spark, "t_crash")
    assert not os.path.exists(tmp)
    check()

    # window B: table dir renamed away, the copy complete but registered
    # nowhere → recovery promotes the copy
    tmp2, old2 = loc + f".compacting-b{run}", loc + f".precompact-b{run}"
    os.rename(loc, old2)
    copy_renamed(old2, tmp2)
    with open(marker, "w") as f:
        json.dump({"tmp": tmp2, "old": old2}, f)
    assert not spark.catalog.tableExists("t_crash_bands__compacting")
    stats = compact_minhash_tables(spark, "t_crash")
    assert not os.path.exists(old2) and not os.path.exists(tmp2)
    assert stats["bands"]["rows"] == spark.table("t_crash_bands").count()
    check()

    # window B on the shingle table, whose directory holds the params
    # sidecar: the recovered copy keeps the catalog entry's 2 buckets
    # although the call passes no bucket count
    sh_loc = _table_location(spark, "t_crash_shingles")
    sh_marker = _marker_path(sh_loc)
    tmp4, old4 = sh_loc + f".compacting-b{run}", sh_loc + f".precompact-b{run}"
    os.rename(sh_loc, old4)
    copy_renamed(old4, tmp4)
    with open(sh_marker, "w") as f:
        json.dump({"tmp": tmp4, "old": old4}, f)
    stats = compact_minhash_tables(spark, "t_crash")
    assert not os.path.exists(old4) and not os.path.exists(tmp4)
    assert not os.path.exists(sh_marker)
    assert stats["shingles"]["files_after"] <= 2
    check()

    # a plain-text marker of the catalog-swap compactor this protocol
    # replaced names a catalog table that is gone: it is removed
    with open(marker, "w") as f:
        f.write("t_crash_bands__compacting")
    compact_minhash_tables(spark, "t_crash")
    check()

    # window C: promote landed, old copy not yet removed → cleanup
    old3 = loc + f".precompact-c{run}"
    shutil.copytree(loc, old3)
    with open(marker, "w") as f:
        json.dump({"tmp": loc + f".compacting-c{run}", "old": old3}, f)
    compact_minhash_tables(spark, "t_crash")
    assert not os.path.exists(old3)
    check()

    # a crashed attempt's copy older than the sweep gate is removed; a
    # fresh one (a live swap) is not
    orphan = sh_loc + f".compacting-orphan{run}"
    live = sh_loc + f".compacting-live{run}"
    shutil.copytree(sh_loc, orphan)
    shutil.copytree(sh_loc, live)
    aged = time.time() - ORPHAN_SWEEP_MIN_AGE_S - 60
    os.utime(orphan, (aged, aged))
    compact_minhash_tables(spark, "t_crash")
    assert not os.path.exists(orphan) and os.path.exists(live)
    shutil.rmtree(live)
    check()
    # an explicit bucket count must match the tables' own spec
    with pytest.raises(ValueError, match="buckets=8"):
        compact_minhash_tables(spark, "t_crash", buckets=8)


def test_ivf_centroids_skips_null_and_wrong_dim(spark):
    """Junk vectors (NULL, empty, wrong dimension) never crash the seed
    build or Lloyd refinement — the quantizer pins its dimension to the
    first deterministic seed and trains only on full-width vectors, the
    same rows the assignment path can actually score."""
    rows = [(i, [float(i % 3), float((i * 7) % 5)]) for i in range(20)]
    rows += [(100, None), (101, []), (102, [1.0, 2.0, 3.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(emb, 4, iters=2)
    assert len(cents) == 4 and all(len(vec) == 2 for _, vec in cents)
    # junk rows still assign somewhere (zero-vector convention: cell of
    # the first max over zero scores) rather than crashing the batch
    cells = emb.select(ivf_cell_col(F.col("embedding"), cents).alias("c")).collect()
    assert all(0 <= r.c < 4 for r in cells)
    # an all-junk corpus is a contract error, not a crash
    junk = spark.createDataFrame(
        [(1, None), (2, [])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-empty vectors"):
        ivf_centroids(junk, 2)


def test_cosine_cluster_linkage_hot_bucket_divert(spark):
    """An over-cap LSH bucket takes the linear exact-identical path: clone
    groups collapse to min-id clusters without the O(B³) merge loop, while
    small buckets still get true linkage clustering."""
    import math

    from crawl4ai_spark.datapipe.similarity import cosine_cluster_linkage

    rows = (
        # bucket +x: 6 clones of a, 4 clones of b (near a but not equal)
        [(i, [1.0, 0.0]) for i in range(6)]
        + [(10 + i, [math.cos(0.1), math.sin(0.1)]) for i in range(4)]
        # bucket -x: a small pair linkage must still truly cluster
        + [(100, [-1.0, 0.0]), (101, [-math.cos(0.05), -math.sin(0.05)])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster_label, r.cluster_size)
        for r in cosine_cluster_linkage(
            df, [[1.0, 0.0]], max_dist=0.2, linkage_method="ward",
            hot_bucket_cap=8,
        ).collect()
    }
    # diverted bucket: identical-vector groups only (0-5 and 10-13 stay
    # separate clusters even though ward at 0.2 would have merged them)
    assert {out[i] for i in range(6)} == {(0, 6)}
    assert {out[10 + i] for i in range(4)} == {(10, 4)}
    # small bucket still linkage-merged
    assert out[100] == (100, 2) and out[101] == (100, 2)
    # unguarded call on the same input merges the near clones — proving
    # the divert (not the linkage) produced the split above
    full = {
        r.vec_id: r.cluster_size
        for r in cosine_cluster_linkage(
            df, [[1.0, 0.0]], max_dist=0.2, linkage_method="ward",
            hot_bucket_cap=None,
        ).collect()
    }
    assert full[0] == 10 and full[10] == 10


def test_minhash_groups_cap_none_passthrough(spark):
    """minhash_dedup_groups forwards hot_bucket_cap verbatim: None reaches
    the pair stage as 'no guard' (docstring contract), and on a corpus with
    an over-default-cap-free shape both settings agree exactly."""
    from crawl4ai_spark.datapipe.components import minhash_dedup_groups

    docs = [(i, f"alpha beta gamma delta {i % 3}") for i in range(24)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    guarded = {
        tuple(r)
        for r in minhash_dedup_groups(df, "doc_id", "text", hot_bucket_cap=4).collect()
    }
    unguarded = {
        tuple(r)
        for r in minhash_dedup_groups(
            df, "doc_id", "text", hot_bucket_cap=None
        ).collect()
    }
    # identical docs (8 per residue class) share full signatures, so the
    # star diversion loses nothing here and both paths agree
    assert guarded == unguarded and len(guarded) == 24


def test_lsh_bucket_rejects_over_63_planes(spark):
    from crawl4ai_spark.datapipe.similarity import lsh_bucket_col

    with pytest.raises(ValueError, match="at most 63 planes"):
        lsh_bucket_col(F.col("embedding"), hyperplanes(64, 4))


def test_ivf_table_write_bounds_file_count(spark, tmp_path):
    from crawl4ai_spark.datapipe.similarity import write_ivf_table

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    ).repartition(16)  # many input tasks: the raw partitionBy fan-out shape
    cents = ivf_centroids(emb, 4)
    path = tmp_path / "ivf_files"
    write_ivf_table(emb, str(path), cents, files_per_cell=2)
    files = list(path.glob("ivf_cell=*/*.parquet"))
    # ≤ n_cells × files_per_cell, NOT input_tasks × cells
    assert 1 <= len(files) <= 8
    # and the table still reads back complete
    assert spark.read.parquet(str(path)).count() == 200


def test_embedding_pairs_and_cluster_hot_bucket_divert(spark):
    """The embedding kernels share the minhash guard: an over-cap LSH
    bucket of clones emits linear star pairs (identical groups stay
    connected at cosine 1), and cosine_cluster still labels every clone
    group as one component."""
    from crawl4ai_spark.datapipe.similarity import (
        cosine_cluster,
        embedding_dedup_pairs,
    )

    # 12 clones of vector A + 6 clones of B (same hyperplane signs as A,
    # far in cosine) → one bucket of 18 > cap 8
    rows = [(i, [1.0, 0.25]) for i in range(12)] + [
        (100 + i, [0.25, 1.0]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1.0, 1.0]]  # both vectors project positive → one bucket
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_dedup_pairs(
            df, planes, threshold=0.99, hot_bucket_cap=8
        ).collect()
    }
    # star pairs within each identical group, nothing across (A·B cosine
    # ≈ 0.47 fails the verify even for the rep-level star edge)
    assert pairs == {(0, i) for i in range(1, 12)} | {
        (100, 100 + i) for i in range(1, 6)
    }
    out = {
        r.vec_id: (r.cluster_label, r.cluster_size)
        for r in cosine_cluster(
            df, planes, max_dist=0.01, hot_bucket_cap=8
        ).collect()
    }
    assert {out[i] for i in range(12)} == {(0, 12)}
    assert {out[100 + i] for i in range(6)} == {(100, 6)}


def test_embedding_hot_bucket_stats_reports_divert(spark):
    from crawl4ai_spark.datapipe.similarity import embedding_hot_bucket_stats

    rows = [(i, [1.0, 0.25]) for i in range(12)] + [(100, [0.25, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_hot_bucket_stats(df, [[1.0, 1.0]], cap=8).collect()
    assert len(got) == 1 and got[0].n_docs == 13
    assert embedding_hot_bucket_stats(df, [[1.0, 1.0]], cap=64).collect() == []


def test_lsh_table_probe_matches_inline_and_prunes_scan(spark, sf_dir, tmp_path):
    from crawl4ai_spark.datapipe.similarity import ann_lsh_topk, write_lsh_table

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(8)
    planes = hyperplanes(4, 64)
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    path = str(tmp_path / "lsh_table")
    write_lsh_table(e, path, planes, files_per_bucket=2)
    files = list((tmp_path / "lsh_table").glob("lsh_bucket=*/*.parquet"))
    assert 1 <= len(files) <= 32  # ≤ 2^4 buckets × 2, not 8 tasks × buckets
    table = spark.read.parquet(path)
    probed = ann_lsh_topk(table, q, planes, k=4, bucket_col="lsh_bucket")
    inline = ann_lsh_topk(e, q, planes, k=4)
    assert {tuple(r) for r in probed.collect()} == {tuple(r) for r in inline.collect()}
    plan = probed._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "lsh_bucket" in seg and "IN" in seg.upper()


def test_lsh_table_append_grows_exactly(spark, sf_dir, tmp_path):
    """LSH leg of the growing-corpus pattern: append_lsh_table buckets a
    vector batch under the table's PERSISTED hyperplanes; a probe over
    the grown table equals the inline path over the union, and pruning
    survives append generations."""
    from crawl4ai_spark.datapipe.similarity import (
        ann_lsh_topk,
        append_lsh_table,
        read_lsh_planes,
        write_lsh_table,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = e.filter("vec_id % 3 != 0")
    batch = e.filter("vec_id % 3 = 0").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    planes = hyperplanes(4, 64)
    path = str(tmp_path / "lsh_grow")
    write_lsh_table(old, path, planes, files_per_bucket=2)
    assert read_lsh_planes(path) == planes  # exact float roundtrip
    append_lsh_table(batch, path, files_per_bucket=2)
    table = spark.read.parquet(path)
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    got = ann_lsh_topk(table, q, planes, k=5, bucket_col="lsh_bucket")
    want = ann_lsh_topk(old.unionByName(batch), q, planes, k=5)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    plan = got._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "lsh_bucket" in seg and "IN" in seg.upper()
    # compaction folds the append generations back under the per-write
    # ceiling, carries the hyperplane sidecar, and changes no probe result
    from crawl4ai_spark.datapipe.similarity import compact_lsh_table

    stats = compact_lsh_table(spark, path, files_per_bucket=2)
    assert stats["files_after"] < stats["files_before"]
    assert read_lsh_planes(path) == planes
    after = ann_lsh_topk(
        spark.read.parquet(path), q, planes, k=5, bucket_col="lsh_bucket"
    )
    assert {tuple(r) for r in after.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_ivf_table_compact_restores_file_ceiling(spark, sf_dir, tmp_path):
    """Compaction completes the write/append lifecycle: after N appends
    the table holds up to N × the per-write file ceiling; compacting
    rewrites it back under the single-write bound with identical probe
    results, the centroids sidecar intact, and partition pruning still
    working — any drop/duplication of rows or loss of the quantizer
    breaks a later probe silently, so all three are asserted."""
    from crawl4ai_spark.datapipe.similarity import (
        append_ivf_table,
        compact_ivf_table,
        read_ivf_centroids,
        write_ivf_table,
    )
    from crawl4ai_spark.storage import _count_data_files

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = e.filter("vec_id % 3 != 0")
    cents = ivf_centroids(old, 4, iters=1)
    path = str(tmp_path / "ivf_compact")
    write_ivf_table(old, path, cents, files_per_cell=2)
    for gen in (1, 2):
        batch = e.filter("vec_id % 3 = 0").select(
            (F.col("vec_id") + gen * 1_000_000).alias("vec_id"), "embedding"
        )
        append_ivf_table(batch, path, files_per_cell=2)
    ceiling = len(cents) * 2
    assert _count_data_files(path) > ceiling  # appends really fanned out
    q = e.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    before = {
        tuple(r)
        for r in ann_ivf_topk(
            spark.read.parquet(path), q, nprobe=len(cents), k=5,
            centroids=cents, cell_col="ivf_cell",
        ).collect()
    }
    stats = compact_ivf_table(spark, path, files_per_cell=2)
    assert stats["files_after"] <= ceiling
    assert stats["files_after"] < stats["files_before"]
    assert read_ivf_centroids(path) == cents  # sidecar carried over
    table = spark.read.parquet(path)
    probed = ann_ivf_topk(
        table, q, nprobe=len(cents), k=5, centroids=cents, cell_col="ivf_cell"
    )
    assert {tuple(r) for r in probed.collect()} == before
    pruned = ann_ivf_topk(
        table, q, nprobe=1, k=5, centroids=cents, cell_col="ivf_cell"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ivf_cell" in seg and "IN" in seg.upper()
    # a further append against the compacted table still works (planes of
    # the growth pattern must survive compaction, not just probes)
    append_ivf_table(
        e.filter("vec_id % 3 = 0").select(
            (F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding"
        ),
        path,
        files_per_cell=2,
    )
    assert spark.read.parquet(path).count() == stats["rows"] + e.filter(
        "vec_id % 3 = 0"
    ).count()


def test_compaction_crash_recovery(spark, tmp_path):
    """Every crash window of the compaction swap leaves a marker state
    the next call auto-recovers from without losing rows. Simulated by
    reconstructing the on-disk states the protocol can crash into."""
    import json
    import os
    import shutil

    from crawl4ai_spark.storage import (
        _marker_path,
        compact_partitioned_table,
        salted_partition_write,
    )

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, part int"
    )
    path = str(tmp_path / "t")
    salted_partition_write(df, path, ["part"], F.col("id"), 1)
    n = spark.read.parquet(path).count()

    # crash window A: compacted tmp written, marker written, swap not
    # started → recovery discards the tmp and the re-run compacts fresh
    tmp = path + ".compacting-dead"
    shutil.copytree(path, tmp)
    with open(_marker_path(path), "w") as f:
        json.dump({"tmp": tmp, "old": path + ".precompact-dead"}, f)
    stats = compact_partitioned_table(spark, path, ["part"], "id", 1)
    assert stats["rows"] == n and not os.path.exists(tmp)
    assert not os.path.exists(_marker_path(path))

    # crash window B: between the two renames (table dir missing, old
    # copy present, promoted tmp complete) → recovery promotes the tmp
    tmp2, old2 = path + ".compacting-d2", path + ".precompact-d2"
    os.rename(path, old2)
    shutil.copytree(old2, tmp2)
    with open(_marker_path(path), "w") as f:
        json.dump({"tmp": tmp2, "old": old2}, f)
    stats = compact_partitioned_table(spark, path, ["part"], "id", 1)
    assert stats["rows"] == n
    assert spark.read.parquet(path).count() == n
    assert not os.path.exists(old2) and not os.path.exists(tmp2)

    # crash window C: promote landed, old copy not yet deleted → cleanup
    old3 = path + ".precompact-d3"
    shutil.copytree(path, old3)
    with open(_marker_path(path), "w") as f:
        json.dump({"tmp": path + ".compacting-d3", "old": old3}, f)
    stats = compact_partitioned_table(spark, path, ["part"], "id", 1)
    assert stats["rows"] == n and not os.path.exists(old3)


def test_ivf_duplicate_seed_vectors_dedupe_and_probe_alignment(spark):
    """Boilerplate corpora put identical embeddings among the seed hashes:
    the quantizer must dedupe them (a duplicated centroid can never win an
    assignment, so it would be a permanently empty cell), and probe
    tie-breaks must match assignment tie-breaks (smallest cell id) so a
    low-nprobe query never reads an empty twin cell while its true
    neighbors sit in the other."""
    rows = [(i, [1.0, 0.0]) for i in range(20)] + [(100, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(emb, 4)
    vecs = [tuple(v) for _, v in cents]
    assert len(vecs) == len(set(vecs)) <= 2  # deduped: ≤ 2 distinct vectors
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<double>")
    got = ann_ivf_topk(emb, q, nprobe=1, k=3, centroids=cents).collect()
    # nprobe=1 must find the exact duplicates of the query, not an empty cell
    assert len(got) == 3 and all(r.cosine == 1.0 for r in got)


def test_mix_sources_null_source_stratum(spark):
    """NULL sources form their own stratum: kept only via an explicit None
    weight, never a driver TypeError (sorted None vs str) or a silent
    pass-through."""
    from crawl4ai_spark.datapipe.sampling import mix_sources

    df = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else None) for i in range(40)],
        "doc_id long, source string",
    )
    # no None weight: NULL rows are dropped explicitly (keep_prob 0)
    kept = mix_sources(df, F.col("doc_id"), "source", {"web": 1.0}).collect()
    assert kept and all(r.source == "web" for r in kept)
    # explicit None weight: NULL stratum participates
    kept2 = mix_sources(
        df, F.col("doc_id"), "source", {"web": 0.5, None: 0.5}
    ).collect()
    assert any(r.source is None for r in kept2)


def test_blob_features_rejects_non_power_of_two_bins(spark):
    from crawl4ai_spark.datapipe.multimodal import extract_blob_features

    df = spark.createDataFrame([("u", bytearray(b"xyz"))], "url string, blob binary")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="power of two"):
        extract_blob_features(df, bins=10)
    rows = extract_blob_features(df, bins=8).collect()
    assert len(rows[0].feature) == 8


def test_unigram_lm_hand_computed(spark):
    """Corpus 'a a b' / 'b c', vocab_size=2, alpha=1: n=5, denom=8; the
    count tie a=2,b=2 breaks token-asc; c is OOV. doc0 ppl = 8/3,
    doc1 ppl = 8/sqrt(3)."""
    import math

    from crawl4ai_spark.datapipe.lm import (
        perplexity_filter,
        score_perplexity,
        train_unigram_lm,
    )

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "b c"), (2, "   ")], "doc_id long, text string"
    )
    vocab, oov, n = train_unigram_lm(df, vocab_size=2, alpha=1.0)
    assert n == 5
    got_vocab = {r.token: r.logp for r in vocab.collect()}
    assert set(got_vocab) == {"a", "b"}
    assert abs(got_vocab["a"] - math.log(3 / 8)) < 1e-12
    assert abs(oov - math.log(1 / 8)) < 1e-12

    ppl = {r.doc_id: (r.n_tokens, r.ppl) for r in
           score_perplexity(df, vocab, oov).collect()}
    assert ppl[0][0] == 3 and abs(ppl[0][1] - 8 / 3) < 1e-9
    assert ppl[1][0] == 2 and abs(ppl[1][1] - 8 / math.sqrt(3)) < 1e-9
    # whitespace-only doc: present, zero tokens, NULL perplexity
    assert ppl[2] == (0, None)

    # the gate keeps only under-threshold docs; the empty doc is dropped
    kept = perplexity_filter(df, vocab, oov, max_ppl=3.0).collect()
    assert [r.doc_id for r in kept] == [0]

    # scoring join is broadcast — the corpus side must not shuffle for it
    plan = score_perplexity(df, vocab, oov)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_unigram_lm_proper_when_vocab_exceeds_distinct(spark):
    """Smoothing denominator clamps to the EFFECTIVE vocabulary: corpus
    'a a b' with vocab_size=10 has 2 distinct tokens, so the model is over
    2+1 outcomes (denom 3+1·3=6) and probabilities sum to exactly 1 —
    the unclamped vocab_size denominator (3+11=14) leaked mass to
    never-seen outcomes."""
    import math

    from crawl4ai_spark.datapipe.lm import train_unigram_lm

    df = spark.createDataFrame([(0, "a a b")], "doc_id long, text string")
    vocab, oov, n = train_unigram_lm(df, vocab_size=10, alpha=1.0)
    assert n == 3
    probs = {r.token: math.exp(r.logp) for r in vocab.collect()}
    assert abs(probs["a"] - 3 / 6) < 1e-12 and abs(probs["b"] - 2 / 6) < 1e-12
    assert abs(sum(probs.values()) + math.exp(oov) - 1.0) < 1e-12


def test_unigram_lm_vocab_tiebreak_deterministic(spark):
    from crawl4ai_spark.datapipe.lm import train_unigram_lm

    df = spark.createDataFrame([(0, "b a b a")], "doc_id long, text string")
    for _ in range(3):
        vocab, _, _ = train_unigram_lm(df.repartition(5), vocab_size=1)
        assert [r.token for r in vocab.collect()] == ["a"]


def test_compact_sweeps_orphan_pre_marker_tmp(spark, tmp_path):
    """A crash BEFORE the marker write (mid-copy or failed verify) leaves
    a uuid-named tmp dir no marker references — each crashed attempt
    would leak one table-sized copy forever. The next compact call must
    sweep such orphans (both name shapes), then compact normally."""
    import os
    import shutil

    from crawl4ai_spark.storage import (
        compact_partitioned_table,
        salted_partition_write,
    )

    import time

    from crawl4ai_spark.storage import ORPHAN_SWEEP_MIN_AGE_S

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, part int"
    )
    path = str(tmp_path / "t")
    salted_partition_write(df, path, ["part"], F.col("id"), 1)
    orphan_tmp = path + ".compacting-deadbeef"
    orphan_old = path + ".precompact-cafebabe"
    fresh_tmp = path + ".compacting-liveswap"
    shutil.copytree(path, orphan_tmp)
    shutil.copytree(path, orphan_old)
    shutil.copytree(path, fresh_tmp)
    # age the crashed attempt's dirs past the sweep gate; the fresh dir
    # models a concurrently-running attempt's live swap and must survive
    old_ts = time.time() - ORPHAN_SWEEP_MIN_AGE_S - 60
    os.utime(orphan_tmp, (old_ts, old_ts))
    os.utime(orphan_old, (old_ts, old_ts))
    stats = compact_partitioned_table(spark, path, ["part"], "id", 1)
    assert stats["rows"] == 30
    assert spark.read.parquet(path).count() == 30
    assert not os.path.exists(orphan_tmp)
    assert not os.path.exists(orphan_old)
    assert os.path.exists(fresh_tmp)  # age gate: never sweep a live swap


def test_minhash_params_sidecar_guards_mismatched_callers(spark, sf_dir):
    """write_minhash_tables persists its construction parameters beside
    the shingle table; increment/append under mismatched values raise a
    named ValueError instead of silently producing near-zero pairs
    (band keys would simply never match). Matching callers pass, and the
    sidecar survives compaction."""
    import pytest as _pytest

    from crawl4ai_spark.datapipe.dedup import (
        append_minhash_tables,
        compact_minhash_tables,
        minhash_pairs_increment,
        read_minhash_params,
        write_minhash_tables,
    )
    from crawl4ai_spark.datapipe.textstats import portable_hash

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 40")
    )
    write_minhash_tables(docs, "doc_id", "text", "t_par", hash_fn=F.xxhash64,
                         buckets=2)
    assert read_minhash_params(spark, "t_par") == {
        "k": 3, "num_hashes": 16, "bands": 4, "buckets": 2,
        "hash_fn": "xxhash64",
    }
    batch = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(" "), "text").alias("text"),
    )
    with _pytest.raises(ValueError, match="bands"):
        minhash_pairs_increment(spark, batch, "t_par", bands=8,
                                hash_fn=F.xxhash64)
    with _pytest.raises(ValueError, match="hash_fn"):
        append_minhash_tables(spark, batch, "t_par", hash_fn=portable_hash,
                              buckets=2)
    with _pytest.raises(ValueError, match="buckets"):
        append_minhash_tables(spark, batch, "t_par", hash_fn=F.xxhash64,
                              buckets=8)
    # matching parameters pass end-to-end
    assert minhash_pairs_increment(
        spark, batch, "t_par", hash_fn=F.xxhash64
    ).count() > 0
    spark.catalog.clearCache()
    # the sidecar is carried through the compaction swap
    compact_minhash_tables(spark, "t_par", buckets=2)
    assert read_minhash_params(spark, "t_par") == {
        "k": 3, "num_hashes": 16, "bands": 4, "buckets": 2,
        "hash_fn": "xxhash64",
    }


def test_minhash_params_sidecar_fingerprints_hash_fn(spark, sf_dir):
    """Two lambdas share the name ``<lambda>``; the sidecar tells them
    apart by the expression each builds, so an append under a same-named
    hash_fn with a different body raises instead of writing band keys
    that never match. Sidecars without the fingerprint compare by name."""
    import json

    import pytest as _pytest

    from crawl4ai_spark.datapipe.dedup import (
        _check_minhash_params,
        _hash_fn_expr,
        _minhash_params_path,
        append_minhash_tables,
        write_minhash_tables,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 20")
    )
    write_minhash_tables(docs, "doc_id", "text", "t_fp",
                         hash_fn=lambda c: F.xxhash64(c), buckets=2)
    salted = lambda c: F.xxhash64(F.concat(c, F.lit("!")))  # noqa: E731
    assert salted.__name__ == "<lambda>"
    batch = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    with _pytest.raises(ValueError, match="hash_fn"):
        append_minhash_tables(spark, batch, "t_fp", hash_fn=salted, buckets=2)
    params = dict(k=3, num_hashes=16, bands=4, buckets=2)
    # a different lambda object with the same body passes
    _check_minhash_params(spark, "t_fp", hash_fn=lambda c: F.xxhash64(c), **params)
    # higher-order-function variables get fresh names on every call;
    # the fingerprint does not depend on them
    def hof(c):
        return F.aggregate(F.array(c), F.lit(0).cast("long"),
                           lambda acc, x: acc + F.xxhash64(x))

    assert _hash_fn_expr(hof) == _hash_fn_expr(hof)
    # a sidecar written before the fingerprint compares by name only
    path = _minhash_params_path(spark, "t_fp")
    with open(path) as f:
        stored = json.load(f)
    del stored["hash_fn_expr"]
    with open(path, "w") as f:
        json.dump(stored, f)
    _check_minhash_params(spark, "t_fp", hash_fn=salted, **params)


def test_write_minhash_tables_bad_params_keep_old_tables(spark, sf_dir):
    """A rebuild under num_hashes not divisible by bands raises before it
    drops anything: the old tables, their sidecar and their pairs stay."""
    import uuid

    from crawl4ai_spark.datapipe.dedup import (
        _drop_table,
        minhash_pairs_from_tables,
        read_minhash_params,
        write_minhash_tables,
    )

    prefix = f"t_badw_{uuid.uuid4().hex[:8]}"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 40")
    )
    try:
        write_minhash_tables(docs, "doc_id", "text", prefix, hash_fn=F.xxhash64,
                             buckets=2)
        params = read_minhash_params(spark, prefix)
        before = {tuple(r) for r in minhash_pairs_from_tables(spark, prefix).collect()}
        assert before
        with pytest.raises(ValueError, match="positive multiple of bands"):
            write_minhash_tables(docs, "doc_id", "text", prefix,
                                 hash_fn=F.xxhash64, bands=5, buckets=2)
        assert read_minhash_params(spark, prefix) == params
        after = minhash_pairs_from_tables(spark, prefix).collect()
        assert {tuple(r) for r in after} == before
    finally:
        for table in ("shingles", "bands"):
            _drop_table(spark, f"{prefix}_{table}")


def test_minhash_params_checked_after_window_b_recovery(spark, sf_dir):
    """A compaction that crashed in window B has renamed the shingle
    directory, and the params sidecar with it, away. An increment under
    mismatched bands must recover the table before it checks the
    parameters, and so raise instead of silently returning no pairs."""
    import json
    import os
    import shutil
    import uuid

    from crawl4ai_spark.datapipe.dedup import (
        _drop_table,
        _table_location,
        minhash_pairs_increment,
        read_minhash_params,
        write_minhash_tables,
    )
    from crawl4ai_spark.storage import _marker_path

    prefix = f"t_winb_{uuid.uuid4().hex[:8]}"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 40")
    )
    batch = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(" "), "text").alias("text"),
    )
    try:
        write_minhash_tables(docs, "doc_id", "text", prefix, hash_fn=F.xxhash64,
                             buckets=2)
        loc = _table_location(spark, f"{prefix}_shingles")
        tmp, old = loc + ".compacting-b", loc + ".precompact-b"
        os.rename(loc, old)
        shutil.copytree(old, tmp)
        with open(_marker_path(loc), "w") as f:
            json.dump({"tmp": tmp, "old": old}, f)
        with pytest.raises(ValueError, match="bands"):
            minhash_pairs_increment(spark, batch, prefix, bands=8,
                                    hash_fn=F.xxhash64).count()
        assert read_minhash_params(spark, prefix)["bands"] == 4
        assert minhash_pairs_increment(
            spark, batch, prefix, hash_fn=F.xxhash64
        ).count() > 0
    finally:
        spark.catalog.clearCache()
        for table in ("shingles", "bands"):
            _drop_table(spark, f"{prefix}_{table}")
