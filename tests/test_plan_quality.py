"""Physical-plan assertions: the plans we ship are the plans we designed.

These guard against silent regressions in join strategy and pushdown —
an operator that stops broadcasting or stops pushing filters down would
still be correct but wrong at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_pushdown(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.filter("doc_id < 10").select("doc_id"))
    assert "PushedFilters" in plan and "LessThan(doc_id,10)" in plan.replace(" ", "")
    # column pruning: the scan must not read the text column
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema


def test_robots_gate_broadcasts(spark, pages):
    from crawl4ai_spark.operators.robots import apply_robots_gate
    from crawl4ai_spark.sources.synthetic import build_robots
    from crawl4ai_spark.functions.urls import host_col

    fr = pages.select("url", host_col(F.col("url")).alias("host"))
    plan = _plan(apply_robots_gate(fr, build_robots(spark)))
    assert "BroadcastHashJoin" in plan


def test_fetch_join_broadcasts_frontier(spark, pages):
    # the crawl loop's fetch shape under the broadcast threshold: semi-join
    # the corpus down with a broadcast url-list probe, then small⟕small
    frontier = pages.select("url").limit(5)
    relevant = pages.join(F.broadcast(frontier.select("url")), "url", "left_semi")
    plan = _plan(frontier.join(relevant, "url", "left"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_fetch_join_degrades_to_shuffle_above_threshold(spark, pages):
    # above broadcast_frontier_max the hint is withheld: the semi-join must
    # degrade to a shuffle join (no driver-OOM broadcast of a huge slice)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        frontier = pages.select("url").limit(5)
        relevant = pages.join(frontier.select("url"), "url", "left_semi")
        plan = _plan(frontier.join(relevant, "url", "left"))
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_capacity_topk_is_salted_two_pass(spark, pages):
    from crawl4ai_spark.operators.ranking import capacity_topk

    scored = pages.select("url", F.length("url").cast("double").alias("score"))
    out = capacity_topk(scored, 10)
    plan = _plan(out)
    # pass 1 is a window partitioned by the salt bucket — the global window
    # in pass 2 only ever sees ≤ salt·k survivors
    assert plan.count("Window [") == 2
    assert "_sb" in plan
    # output identical to the naive global top-k
    naive = scored.orderBy(F.col("score").desc(), F.col("url").asc()).limit(10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, naive.collect()))


def test_large_k_topk_uses_range_rank_not_global_window(spark, monkeypatch):
    """Above LARGE_K_ROWS the salted two-pass's own global window (salt·k
    rows in ONE task) becomes the bottleneck — the contract runs
    max_pages=1_000_000, so capacity-k in the millions must route through
    the fully-distributed range rank and still be exact."""
    import crawl4ai_spark.operators.ranking as rk

    monkeypatch.setattr(rk, "LARGE_K_ROWS", 500)
    df = spark.range(20_000).select(
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("url"),
        (F.pmod(F.col("id") * 37, F.lit(1000))).cast("double").alias("score"),
    )
    out = rk.capacity_topk(df, 2_000)
    naive = df.orderBy(F.col("score").desc(), F.col("url").asc()).limit(2_000)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, naive.collect()))


def test_range_rank_exact_global_rank(spark):
    from crawl4ai_spark.operators.ranking import range_rank

    df = spark.range(5_000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.pmod(F.col("id") * 13, F.lit(97)).cast("double").alias("score"),
    )
    order = [F.col("score").asc(), F.col("url").asc()]
    got = range_rank(df, order, k=1_000, partition_rows=200)
    from pyspark.sql import Window

    want = (
        df.withColumn("_topk_rank", F.row_number().over(Window.orderBy(*order)))
        .filter(F.col("_topk_rank") <= 1_000)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_contract_scale_crawl_budget_routes_off_single_task(spark, monkeypatch):
    """The contract's max_pages=1_000_000 priority rank must not build a
    plan whose pass-2 window is a single unpartitioned task."""
    import crawl4ai_spark.operators.ranking as rk

    called = {}
    real = rk.range_rank

    def spy(df, order, k, **kw):
        called["k"] = k
        return real(df, order, k, **kw)

    monkeypatch.setattr(rk, "range_rank", spy)
    df = spark.range(2_000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("warc_ts_hint"),
        F.lit(0.0).alias("score"),
        F.lit(0).alias("depth"),
    )
    out = rk.priority_rank(
        df, mode="bfs", budget=1_000_000, tiebreak="warc_ts_hint"
    )
    assert out.count() == 2_000
    assert called.get("k") == 1_000_000


def test_priority_rank_salted_matches_naive(spark, pages):
    from pyspark.sql import Window

    from crawl4ai_spark.operators.ranking import priority_rank

    df = pages.select(
        "url",
        (F.length("url") % 3).cast("double").alias("score"),
        (F.length("url") % 4).alias("depth"),
        F.col("url").alias("warc_ts"),
    )
    got = priority_rank(df, mode="bfs", budget=7).select("url", "visit_rank")
    w = Window.orderBy(F.col("depth").asc(), F.col("score").asc(), F.col("warc_ts").asc())
    want = (
        df.withColumn("visit_rank", F.row_number().over(w))
        .filter(F.col("visit_rank") <= 7)
        .select("url", "visit_rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bucketed_minhash_band_join_is_exchange_free(spark, sf_dir):
    """The written-down 10^10-doc MinHash plan: band table bucketed by
    band_key ⇒ the candidate self-join needs NO exchange on either side,
    and the shingle table (bucketed by doc_id) feeds the verify joins
    without being shuffled. Output must equal the classic in-session path."""
    from pyspark.sql import functions as F  # noqa: F811

    from crawl4ai_spark.datapipe.dedup import (
        minhash_dedup_pairs,
        minhash_pairs_from_tables,
        write_minhash_tables,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit(" "), "text", F.lit("  ")).alias("text"),
        )
    )
    write_minhash_tables(dup, "doc_id", "text", "t_pq_bands", hash_fn=F.xxhash64,
                         buckets=4)
    out = minhash_pairs_from_tables(spark, "t_pq_bands")
    plan = _plan(out)
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    # no hash exchange on the band join key anywhere in the plan
    assert "hashpartitioning(band_key" not in plan
    classic = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(dup, "doc_id", "text",
                                     hash_fn=F.xxhash64).collect()
    }
    got = {(r.id_a, r.id_b, r.jaccard) for r in out.collect()}
    assert got == classic


def test_minhash_increment_corpus_scan_is_semi_filtered(spark, sf_dir):
    """The increment path's 100 TB contract: the corpus band table is
    narrowed to batch-TOUCHED buckets by a broadcast semi-join BEFORE any
    exchange (only rows a from-scratch run would pair against move — the
    exchange that feeds the shared guard window carries touched+batch
    rows, never the whole corpus), the corpus scans stay bucket-aware,
    and everything below the guard's cache point runs once."""
    from crawl4ai_spark.datapipe.dedup import (
        minhash_pairs_increment,
        write_minhash_tables,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 120")
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = corpus.filter("doc_id % 2 = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(" "), "text").alias("text"),
    )
    write_minhash_tables(corpus, "doc_id", "text", "t_pq_inc",
                         hash_fn=F.xxhash64, buckets=4)
    out = minhash_pairs_increment(spark, batch, "t_pq_inc", hash_fn=F.xxhash64)
    plan = _plan(out)
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    # the touched-buckets broadcast semi filter must exist on the corpus
    # band side — without it every corpus band row flows into the guard
    # window's exchange
    assert "LeftSemi" in plan, plan
    assert out.count() > 0


def test_ann_sheds_vectors_before_window(spark, sf_dir):
    from crawl4ai_spark.datapipe.similarity import ann_bruteforce_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 2").select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(ann_bruteforce_topk(e, q, k=3))
    # the exchange feeding the rank window must not carry embedding arrays
    window_part = plan.split("Window")[0] if "Window" in plan else plan
    exchange_sections = [s for s in plan.split("Exchange") if "hashpartitioning(query_id" in s]
    assert exchange_sections, "expected a hash partitioning on query_id"
    assert "_qvec" not in exchange_sections[0].split("+-")[0]


def test_ann_bruteforce_no_corpus_exchange_when_prewide(spark, sf_dir):
    """The inline ANN legs' "one scan, no corpus shuffle" contract: over a
    corpus already ≥ defaultParallelism partitions wide, _spread must be a
    no-op — the ONLY Exchange in the whole plan is the rank window's
    hashpartitioning(query_id). At 100 TB the scan is always pre-wide, so
    an unconditional repartition here would bill a corpus-sized shuffle."""
    from crawl4ai_spark.datapipe.similarity import ann_bruteforce_topk

    wide_n = spark.sparkContext.defaultParallelism + 2
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(wide_n).cache()
    try:
        e.count()  # materialize so the ANN plan starts at an InMemoryTableScan
        q = e.filter("vec_id < 2").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = _plan(ann_bruteforce_topk(e, q, k=3))
        # judge only the plan ABOVE the cached relation (the cache's own
        # lineage prints the test's repartition, which is not part of the
        # ANN query)
        above = plan.split("InMemoryRelation")[0]
        assert "RoundRobinPartitioning" not in above
        exchanges = above.split("Exchange")[1:]
        assert exchanges, "expected the rank window's exchange"
        assert all(
            "hashpartitioning(query_id" in s.splitlines()[0] for s in exchanges
        ), "corpus-side Exchange leaked into a pre-wide ANN plan:\n" + plan
    finally:
        e.unpersist()


def test_ann_bruteforce_spreads_narrow_corpus(spark, sf_dir):
    # the other direction: a single-partition corpus (one small file) must
    # still be spread across cores before the interpreted scoring stage
    from crawl4ai_spark.datapipe.similarity import ann_bruteforce_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").coalesce(1)
    q = e.filter("vec_id < 2").select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(ann_bruteforce_topk(e, q, k=3))
    assert "RoundRobinPartitioning" in plan


def test_ann_ivf_broadcasts_probes_and_sheds_vectors(spark, sf_dir):
    from crawl4ai_spark.datapipe.similarity import ann_ivf_topk, ivf_centroids

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 2").select(F.col("vec_id").alias("query_id"), "embedding")
    cents = ivf_centroids(e, 4)
    plan = _plan(ann_ivf_topk(e, q, nprobe=2, k=3, centroids=cents))
    # the probe side (queries × nprobe cells) broadcasts — the corpus-side
    # cell join must never shuffle the corpus
    assert "BroadcastHashJoin" in plan
    # vectors shed before the rank window's exchange, same as bf/LSH
    exchange_sections = [
        s for s in plan.split("Exchange") if "hashpartitioning(query_id" in s
    ]
    assert exchange_sections, "expected a hash partitioning on query_id"
    assert "_cvec" not in exchange_sections[0].split("+-")[0]


def test_extraction_is_single_python_stage(spark, pages):
    from crawl4ai_spark.plans.extract import extract_pages

    plan = _plan(extract_pages(pages.limit(3)))
    # fused UDF ⇒ exactly one ArrowEvalPython node in the plan
    assert plan.count("ArrowEvalPython") == 1


def test_lm_train_is_partial_agg_plus_distributed_topk(spark, sf_dir):
    from crawl4ai_spark.datapipe.lm import train_unigram_lm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab, _, _ = train_unigram_lm(docs, vocab_size=16, materialize=False)
    plan = _plan(vocab)
    # token counts combine map-side before the one token-keyed exchange
    assert "partial_count" in plan
    # the vocabulary selection is a distributed top-K (every partition
    # contributes a local top-K), never a single-task global sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_embedding_confidence_broadcasts_queries_not_corpus(spark, sf_dir):
    """best_similarity_per_query (datapipe/adaptive_embed.py) is the
    embedding strategy's per-step kernel: the tiny query side must ride a
    broadcast nested-loop over ONE corpus scan — an exchange on the KB side
    would shuffle the whole knowledge base every adaptive step."""
    from crawl4ai_spark.datapipe.adaptive_embed import best_similarity_per_query

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kb = e.filter(F.col("vec_id") >= 24).select("embedding")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(best_similarity_per_query(kb, q))
    assert "BroadcastNestedLoopJoin" in plan
    # the only SHUFFLE exchange is the Q-row aggregation on query_id,
    # ABOVE the join — below it, the corpus side reaches the join straight
    # from its scan (the BroadcastExchange on the tiny query side is the
    # design; a hash/range/single-partition exchange here would mean the
    # whole knowledge base shuffles every adaptive step)
    below_join = plan.split("BroadcastNestedLoopJoin")[1]
    assert "Exchange hashpartitioning" not in below_join
    assert "Exchange rangepartitioning" not in below_join
    assert "Exchange SinglePartition" not in below_join
    scan_count = plan.count("Scan parquet")
    assert scan_count == 2  # one kb scan + one (broadcast) query scan
    # partial agg before the exchange: map-side max per query
    assert "partial_max" in plan


def test_link_preview_scores_single_pages_scan(spark, tmp_path):
    """The link-preview pass head-fetches via ONE scan of the pages
    corpus; the BM25 scoring pipeline afterwards must only touch the
    (bounded) selected-link rows, never re-scan pages."""
    from crawl4ai_spark.operators.link_preview import link_preview_scores

    links = spark.createDataFrame(
        [("https://a.test/", "https://a.test/p1", "one", False, 3.0, 0)],
        "src_url string, href string, link_text string, is_external boolean,"
        " intrinsic_score double, ord int",
    )
    pages_dir = None

    pages_dir = str(tmp_path)
    spark.createDataFrame(
        [("https://a.test/p1", "<html><head><title>T</title></head></html>")],
        "url string, html_str string",
    ).write.mode("overwrite").parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    plan = _plan(link_preview_scores(links, pages, query="spark"))
    assert plan.count("Scan parquet") == 1
