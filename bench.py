#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may
run on). Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "pages_per_sec": ...}

``--scaling`` mode (used for BASELINE.md evidence) runs the extraction
headline at two parallelism levels in subprocesses and reports throughput
at each plus the scaling efficiency. The levels default to ones the host
has: 4,16 with at least 16 CPUs in ``os.sched_getaffinity``, else N/4,N
(1,4 on a 4-CPU host); ``--levels LO,HI`` above that CPU count exits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_bench(sf_dir: str, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
    from crawl4ai_spark.plans.extract import extract_pages
    from crawl4ai_spark.session import get_spark
    from crawl4ai_spark.sources.synthetic import build_pages, build_robots, build_seeds

    spark = get_spark(app_name="crawl4ai_spark-bench", cores=cpus)
    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # warm the JVM + page corpus (not timed); spread across cores — the
    # sf parquet is a single input split
    pages = build_pages(spark, sf_dir, partitions=cpus * 2).cache()
    n_pages = pages.count()

    # Pre-fork the Python worker pool (not timed): one trivial pandas UDF
    # stage with one task per core forks every worker from the pre-warmed
    # daemon (worker_daemon.py). This is session infrastructure — the same
    # one-time cost as the JVM launch above, paid once per executor on a
    # real cluster — NOT operator work, so it stays outside the timers.
    # extract_all below still pays plan compilation + first-query JIT; the
    # measured cold/warm split is codegen+JIT vs steady-state, with the
    # fork-storm jitter (±2-3 s run to run) removed from both.
    from pyspark.sql.functions import PandasUDFType

    _ident = F.pandas_udf(lambda s: s, "long", PandasUDFType.SCALAR)

    (
        spark.range(cpus * 1000)
        .repartition(cpus * 2)
        .select(_ident("id").alias("v"))
        .agg(F.count(F.lit(1)))
        .collect()
    )

    # q1 — the headline: full fetch+extract (scrape + markdown UDFs) over
    # every page; forces complete materialization via an aggregate.
    def q_extract():
        out = extract_pages(pages, "url", "html")
        return out.agg(
            F.count(F.lit(1)),
            F.sum(F.length("markdown.raw_markdown")),
            F.sum(F.size("scrape.links")),
        ).collect()

    timed("extract_all", q_extract)
    # warm pass: same job, rebuilt plan (Spark 4 would reuse the result
    # stage of the SAME DataFrame instance; extract_pages builds a fresh
    # one) — Python workers and codegen are now hot, so this is the
    # sustained-throughput number comparable to the scaling runs
    timed("extract_all_warm", q_extract)

    # q2 — frontier loop: 3 BFS iterations with politeness + robots + dedup.
    # Seeds/budgets sized so each iteration processes hundreds of pages —
    # the fixed per-stage latency amortizes exactly as it would on a
    # cluster-scale frontier slice.
    def q_crawl():
        robots = build_robots(spark)
        seeds = build_seeds(spark, 300, ntot=n_pages)
        workdir = tempfile.mkdtemp(prefix="c4ai_bench_")
        run = CrawlRun(
            spark, pages, robots, seeds, workdir,
            # pages_unique: build_pages emits exactly one capture per url
            # (a deduplicated snapshot corpus), so the caller guarantee
            # holds and the number stays comparable across rounds. The
            # multi-capture safety aggregate (default pages_unique=False)
            # is oracle-checked by every contract crawl query and
            # exercised with real duplicate captures in
            # test_crawl_loop.test_multi_capture_pages_fetch_latest_*.
            CrawlConfig(mode="bfs", max_pages=5000, max_depth=4,
                        host_budget=200, pages_unique=True),
        )
        return run.run(max_iterations=3)

    crawl_stats = timed("crawl_bfs_3iter", q_crawl)

    # q3-q7 — datapipe operators, timed operator-only: inputs are
    # materialized to parquet ONCE (outside the timers) and re-read, so the
    # timings measure the dedup/ANN/text operators, not corpus generation —
    # and the multi-file input gives the scan real splits (the raw sf
    # parquet is a single file = a single task otherwise).
    from crawl4ai_spark.datapipe.dedup import exact_dedup_groups, minhash_dedup_pairs
    from crawl4ai_spark.datapipe.similarity import ann_bruteforce_topk
    from crawl4ai_spark.datapipe.textstats import (
        fingerprint_col,
        lang_id_col,
        quality_score_col,
        token_count_col,
    )

    bench_root = tempfile.mkdtemp(prefix="c4ai_benchdata_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup_corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit(" "), F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    dup_corpus.repartition(cpus * 2).write.parquet(f"{bench_root}/dup_corpus")
    corpus = spark.read.parquet(f"{bench_root}/dup_corpus")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    embs.repartition(cpus * 2).write.parquet(f"{bench_root}/embeddings")
    embs = spark.read.parquet(f"{bench_root}/embeddings")

    def _count(df):
        return df.agg(F.count(F.lit(1))).collect()

    timed("dedup_exact", lambda: _count(exact_dedup_groups(corpus, "doc_id", "text")))
    timed(
        "dedup_minhash_lsh",
        lambda: _count(minhash_dedup_pairs(corpus, "doc_id", "text", k=3,
                                           num_hashes=16, bands=4, threshold=0.5)),
    )
    # production hash path: same pipeline, xxhash64 signatures + long band keys
    timed(
        "dedup_minhash_xxhash64",
        lambda: _count(minhash_dedup_pairs(corpus, "doc_id", "text", k=3,
                                           num_hashes=16, bands=4, threshold=0.5,
                                           hash_fn=F.xxhash64)),
    )
    # MinHash at scale: a 20×-replicated corpus (~100k docs — rep 0 the
    # original, rep 1 a whitespace near-dup, reps 2+ vowel-rewritten into
    # distinct texts) through (a) the classic in-session xxhash64 pipeline
    # and (b) the pre-bucketed band/shingle tables, where the candidate
    # self-join runs exchange-free (plan-asserted in test_plan_quality).
    # The table write is the amortized once-per-corpus step and is timed
    # separately from the recurring pairs query.
    from crawl4ai_spark.datapipe.dedup import (
        minhash_pairs_from_tables,
        write_minhash_tables,
    )

    reps = spark.range(20).select(F.col("id").alias("rep"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .when(F.col("rep") == 1, F.concat(F.lit(" "), F.col("text"), F.lit("  ")))
        .otherwise(
            F.regexp_replace(F.col("text"), "[aeiou]", F.col("rep").cast("string"))
        )
        .alias("text"),
    )
    big.repartition(cpus * 2).write.parquet(f"{bench_root}/big_corpus")
    big = spark.read.parquet(f"{bench_root}/big_corpus")
    timed(
        "dedup_minhash_xxhash64_100k",
        lambda: _count(minhash_dedup_pairs(big, "doc_id", "text", k=3,
                                           num_hashes=16, bands=4, threshold=0.5,
                                           hash_fn=F.xxhash64)),
    )
    # adversarial tail: 10k byte-identical docs — the degenerate corpus a
    # 100 TB web crawl always contains (empty/boilerplate pages), landing
    # every doc in ONE band bucket. Unguarded, the band self-join explodes
    # to 2×10⁸ candidate pairs (4 bands × 10k²/2) in one AQE-unsplittable
    # bucket; the hot-bucket guard (dedup.HOT_BUCKET_CAP) diverts it to a
    # linear 10k-pair star, so this entry's time must stay in the same
    # band as the other small dedup queries, not minutes.
    same = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page body text " * 8).alias("text"),
    )
    same.repartition(cpus).write.parquet(f"{bench_root}/same_corpus")
    same = spark.read.parquet(f"{bench_root}/same_corpus")
    timed(
        "dedup_minhash_hotbucket_10k_identical",
        lambda: _count(minhash_dedup_pairs(same, "doc_id", "text",
                                           hash_fn=F.xxhash64)),
    )
    # the same degenerate shape for the non-single linkage clusterer: 10k
    # identical embeddings land in ONE LSH bucket; unguarded that is a
    # single task building a 10k x 10k distance matrix and an O(B^3)
    # merge loop — the guard diverts it to linear exact-identical grouping
    from crawl4ai_spark.datapipe.similarity import cosine_cluster_linkage, hyperplanes

    same_vecs = spark.range(10_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i % 5 + 1)) for i in range(16)]).alias("embedding"),
    )
    same_vecs.repartition(cpus).write.parquet(f"{bench_root}/same_vecs")
    same_vecs = spark.read.parquet(f"{bench_root}/same_vecs")
    timed(
        "cosine_linkage_hotbucket_10k_identical",
        lambda: _count(
            cosine_cluster_linkage(
                same_vecs, hyperplanes(8, 16), max_dist=0.1, linkage_method="ward"
            )
        ),
    )
    timed(
        "minhash_bucketed_write_100k",
        lambda: write_minhash_tables(big, "doc_id", "text", "bench_mh",
                                     hash_fn=F.xxhash64, buckets=cpus * 2),
    )
    timed(
        "minhash_bucketed_pairs_100k",
        lambda: _count(minhash_pairs_from_tables(spark, "bench_mh", threshold=0.5)),
    )
    # the daily-increment pattern: dedup a 5k batch against the 100k
    # bucketed corpus WITHOUT recomputing its signatures — O(batch)
    # compute + an exchange-free corpus scan. The structural claim this
    # entry evidences: increment cost tracks the batch, not the corpus
    # (compare to dedup_minhash_xxhash64_100k, the from-scratch price).
    from crawl4ai_spark.datapipe.dedup import minhash_pairs_increment

    # offset far above the corpus id space (big's ids reach doc_id +
    # 19×1M) — an overlapping offset would silently drop cross candidates
    # through the disjoint-ids contract and verify against wrong texts
    inc_batch = big.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"),
        F.concat(F.lit(" "), "text").alias("text"),
    )
    timed(
        "minhash_increment_5k_vs_100k",
        lambda: _count(
            minhash_pairs_increment(spark, inc_batch, "bench_mh",
                                    hash_fn=F.xxhash64, threshold=0.5)
        ),
    )
    # the increment caches its batch shingle/band frames (and the guard
    # its windowed bucket table) for the multi-join plan — its documented
    # contract is clearCache() once the pairs are consumed. Without it
    # those MEMORY_AND_DISK entries stay pinned through every remaining
    # timed entry and skew the recorded bands. Nothing cached above is
    # reused below (`pages` only feeds the earlier extract/crawl entries).
    spark.catalog.clearCache()

    # cleaning tier at 100k: the gopher quality+repetition screens, C4 line
    # cleaning, PII redaction (all shuffle-free Catalyst over the doc), and
    # the CCNet corpus line dedup (whose only shuffle is the line-key
    # window) — measured on the same ~100k-doc corpus as the dedup entries
    # so the "shuffle-free scales linearly" claim carries evidence, not
    # just plan assertions.
    from crawl4ai_spark.datapipe.linededup import dedup_lines_corpus
    from crawl4ai_spark.datapipe.pii import pii_counts_col, redact_pii_col
    from crawl4ai_spark.datapipe.webquality import (
        c4_clean_col,
        c4_page_gate_col,
        gopher_gate_col,
        gopher_metrics_frame,
        gopher_repetition_frame,
    )

    _REP_COLS = [
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
        "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
        "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac",
    ]

    def q_clean():
        m = gopher_metrics_frame(big, "text", struct_col="m")
        m = gopher_repetition_frame(m, "text")
        c = m.withColumn("c", c4_clean_col("text"))
        # all 13 repetition metrics fold into one sum column so NONE of
        # the gram/dupflag staging is column-pruned out of the timing
        rep_sum = sum((F.col(r) for r in _REP_COLS), F.lit(0.0))
        screened = c.select(
            "doc_id",
            gopher_gate_col(F.col("m")).alias("gopher_keep"),
            rep_sum.alias("rep_sum"),
            c4_page_gate_col(F.col("c")).alias("c4_keep"),
            F.md5("c.text_clean").alias("clean_md5"),
            pii_counts_col("text").alias("pii"),
            F.length(redact_pii_col("text")).alias("redacted_len"),
        )
        # every projected column feeds the aggregate — a column the agg
        # doesn't touch would be Catalyst-pruned along with everything that
        # computes it, and the timing would under-measure the tier
        return screened.agg(
            F.count(F.lit(1)),
            F.sum(F.col("gopher_keep").cast("long")),
            F.sum(F.col("c4_keep").cast("long")),
            F.sum("redacted_len"),
            F.sum("rep_sum"),
            F.sum(F.length("clean_md5")),
            F.sum(F.col("pii.n_email") + F.col("pii.n_ipv4") + F.col("pii.n_phone")),
        ).collect()

    # WARC interchange at 100k docs: the distributed sink writes the same
    # ~100k-doc corpus as per-record-gzip segments (one per partition,
    # executor-side bytes), then the one-task-per-segment scan reads every
    # record back through the full parse (gzip members, header block, HTTP
    # strip) — the evidence that the CC-native IO tier keeps up with the
    # compute tiers it feeds. md5+length aggregate so no payload column is
    # pruned out of the timed read.
    from crawl4ai_spark.sources.warc import pages_from_warc, write_warc

    warc_dir = f"{bench_root}/warc_100k"
    warc_src = big.select(
        F.concat(F.lit("https://bench.example/"), F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("html"),
    )
    timed(
        "warc_sink_write_100k",
        lambda: write_warc(warc_src.repartition(cpus * 2), warc_dir).count(),
    )
    timed(
        "warc_scan_100k",
        lambda: pages_from_warc(spark, f"{warc_dir}/*.warc.gz").agg(
            F.count(F.lit(1)),
            F.sum(F.length("html")),
            F.sum(F.length(F.md5("html"))),
        ).collect(),
    )

    timed("clean_corpus_100k", q_clean)
    # consume every output column: the operator anchors its result on the
    # input id set via LEFT joins, so a bare count() references no
    # aggregate column and Catalyst's join elimination prunes the whole
    # line-dedup pipeline out of the timed plan (measured 0.3 s at 100k
    # AND at 1M — a scan, not the operator)
    timed(
        "line_dedup_corpus_100k",
        lambda: dedup_lines_corpus(big, "doc_id", "text").agg(
            F.count(F.lit(1)),
            F.sum("n_lines"),
            F.sum("n_lines_kept"),
            F.sum(F.length("text_clean")),
        ).collect(),
    )

    # span-level exact substring dedup (Lee et al. 2021) at the documented
    # production parameters — 50-token windows, stride W/2 for the stats
    # sweep, tile removal at W. Same every-column aggregation discipline
    # as the line-dedup entry (both surfaces LEFT-join-anchor on the
    # input ids, so an untouched column would prune the whole operator).
    from crawl4ai_spark.datapipe.spandedup import (
        dedup_spans_corpus,
        duplicate_span_stats,
    )

    timed(
        "span_stats_corpus_100k",
        lambda: duplicate_span_stats(
            big, "doc_id", "text", window=50, stride=25
        ).agg(
            F.count(F.lit(1)),
            F.sum("n_spans"),
            F.sum("n_dup_spans"),
            F.sum("dup_span_frac"),
        ).collect(),
    )
    timed(
        "span_dedup_corpus_100k",
        lambda: dedup_spans_corpus(big, "doc_id", "text", window=50).agg(
            F.count(F.lit(1)),
            F.sum("n_tiles"),
            F.sum("n_tiles_kept"),
            F.sum(F.length("text_clean")),
        ).collect(),
    )

    # the FULL curation pipeline (datapipe/curate.py: lang -> gopher
    # quality+repetition -> C4 -> exact dedup -> MinHash near-dup ->
    # corpus line dedup -> span screen -> PII) end to end over a 100k-doc
    # corpus built for realistic attrition: weblines pages x20 replicas,
    # every 3rd replica byte-identical (exact-dedup work) and the rest
    # with a unique opening line (near-dup work at ~0.9 Jaccard). Every
    # output column feeds the aggregate (same pruning discipline as
    # above); the per-tier 100k entries above isolate each stage's cost,
    # this one measures the composed plan + survivor routing.
    from crawl4ai_spark.contract import _weblines
    from crawl4ai_spark.datapipe.curate import curate_corpus

    wl = _weblines(spark, sf_dir)
    wcur = wl.crossJoin(
        spark.range(20).select(F.col("id").alias("_rep"))
    ).select(
        (F.col("doc_id") + F.col("_rep") * 1_000_000).alias("doc_id"),
        F.when(F.col("_rep") % 3 == 0, F.col("text")).otherwise(
            F.regexp_replace(
                "text", r"^[^\n]*",
                F.concat(
                    F.lit("unique opening number "),
                    (F.col("doc_id") + F.col("_rep") * 1_000_000).cast("string"),
                    F.lit(" of this page okay."),
                ),
            )
        ).alias("text"),
    ).repartition(cpus)
    wcur.write.mode("overwrite").parquet(f"{bench_root}/curate_in")
    wcur = spark.read.parquet(f"{bench_root}/curate_in")
    _RELAXED_GATES = dict(
        min_words=10, min_stop_types=0, min_alpha_ratio=0.0,
        min_mean_wl=1.0, max_mean_wl=20.0, max_symbol_ratio=1.0,
    )
    # model-based quality scoring (FineWeb-Edu/DCLM-style linear
    # classifier): train on a 10k labeled seed (the realistic seed:corpus
    # ratio), then the corpus-scale pass — scoring 100k docs through the
    # broadcast model, plan-asserted exchange-free in tests
    from crawl4ai_spark.datapipe.qualityclf import (
        score_quality,
        train_quality_classifier,
    )

    seed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("informative article with careful analysis. "),
                     "text"),
        ).otherwise(
            F.concat(F.lit("click here buy now free casino winner!!! "),
                     "text")
        ).alias("text"),
        (F.col("doc_id") % 2 == 0).cast("double").alias("label"),
    )
    _qm = {}
    timed(
        "qclf_train_seed",
        lambda: _qm.update(
            zip(("idf", "lr"), train_quality_classifier(seed))
        ),
    )
    timed(
        "qclf_score_100k",
        lambda: score_quality(big, _qm["idf"], _qm["lr"]).agg(
            F.count(F.lit(1)), F.sum("quality_prob")
        ).collect(),
    )

    timed(
        "curate_corpus_100k",
        lambda: curate_corpus(
            wcur, span_window=20, span_stride=10, minhash_threshold=0.8,
            minhash_hash_fn=F.xxhash64,  # production hash path, as in the
            # dedup entries above (portable md5 is the oracle path)
            gopher_kwargs=_RELAXED_GATES,
            languages=("en", "und", "de", "fr", "es"),
        ).agg(
            F.count(F.lit(1)),
            F.sum(F.col("kept").cast("long")),
            F.count("drop_stage"),
            F.sum("dup_span_frac"),
            F.sum(F.length("text_out")),
            F.sum("pii.n_email"),
        ).collect(),
    )

    timed(
        "ann_bruteforce",
        lambda: _count(
            ann_bruteforce_topk(
                embs,
                embs.filter(F.col("vec_id") < 8).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                ),
                k=5,
            )
        ),
    )
    # IVF at scale: a ~128k-vector corpus (sf embeddings replicated with a
    # deterministic per-rep perturbation so every vector is distinct).
    # Three entries tell the whole story:
    #   ann_bruteforce_128k    — the exact baseline: every query scores the
    #                            full corpus.
    #   ann_ivf_table_write_128k — the amortized once-per-corpus step (like
    #                            minhash_bucketed_write): train centroids,
    #                            assign cells on the scan, write the corpus
    #                            partitionBy(cell).
    #   ann_ivf_probe_128k     — the recurring query batch: nprobe=4 of 32
    #                            cells, so the partition-pruned scan reads
    #                            ~1/8 of the corpus bytes and scores only
    #                            those candidates. This is the number that
    #                            holds at 100 TB; it must beat brute force.
    from crawl4ai_spark.datapipe.similarity import (
        ann_ivf_topk,
        ivf_centroids,
        write_ivf_table,
    )

    n_embs = embs.count()
    erep = max(1, 128_000 // n_embs)
    ereps = spark.range(erep).select(F.col("id").alias("rep"))
    big_embs = embs.crossJoin(ereps).select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + ((F.col("rep") * 7 + i) % 11).cast("double") * 0.003,
        ).alias("embedding"),
        "rep",
    )
    big_embs.drop("rep").repartition(cpus * 2).write.parquet(f"{bench_root}/big_embs")
    big_embs = spark.read.parquet(f"{bench_root}/big_embs")
    equeries = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    timed(
        "ann_bruteforce_128k",
        lambda: _count(ann_bruteforce_topk(big_embs, equeries, k=5)),
    )
    ivf_cents = ivf_centroids(big_embs, n_cells=32)
    timed(
        "ann_ivf_table_write_128k",
        lambda: write_ivf_table(big_embs, f"{bench_root}/ivf_table", ivf_cents),
    )
    ivf_table = spark.read.parquet(f"{bench_root}/ivf_table")
    timed(
        "ann_ivf_probe_128k",
        lambda: _count(
            ann_ivf_topk(
                ivf_table,
                equeries,
                nprobe=4,
                k=5,
                centroids=ivf_cents,
                cell_col="ivf_cell",
            )
        ),
    )
    # IVF recall evidence (untimed — a quality number, not throughput):
    # the nprobe < n_cells accuracy trade measured against the exact
    # brute-force top-5 over the same 128k corpus. nprobe=32 (= n_cells)
    # is provably recall 1.0 (every cell probed), so the interesting
    # points are the pruned ones the probe timing above actually uses.
    # Two query sets: the corpus queries (whose true top-5 are their own
    # perturbed replicas — geometrically concentrated in one cell, so high
    # recall is expected) and HARD mixed queries (pairwise averages of
    # distant corpus vectors, which sit between cells — the case where
    # nprobe actually trades recall for pruning).
    hard_queries = (
        embs.filter(F.col("vec_id") < 8)
        .alias("a")
        .join(
            embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108)).alias("b"),
            F.col("a.vec_id") + 100 == F.col("b.vec_id"),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.zip_with("a.embedding", "b.embedding", lambda x, y: (x + y) / 2.0).alias(
                "embedding"
            ),
        )
    )
    ivf_recalls = {}
    for tag, qset in (("corpus", equeries), ("mixed", hard_queries)):
        bf_top = ann_bruteforce_topk(big_embs, qset, k=5).select(
            "query_id", "vec_id"
        ).cache()
        n_bf = bf_top.count()
        for nprobe in (4, 8, 16):
            ivf_top = ann_ivf_topk(
                ivf_table, qset, nprobe=nprobe, k=5,
                centroids=ivf_cents, cell_col="ivf_cell",
            ).select("query_id", "vec_id")
            hits = bf_top.join(ivf_top, ["query_id", "vec_id"]).count()
            ivf_recalls[f"{tag}_nprobe{nprobe}"] = round(hits / n_bf, 3)
        bf_top.unpersist()

    timed(
        "text_stats",
        # aggregate over every computed column — a bare count() of the
        # projection would let Catalyst prune all four signal columns out
        # of the timed plan (the projection preserves row count), timing a
        # corpus scan instead of the operators
        lambda: corpus.select(
            "doc_id",
            token_count_col("text").alias("n_tokens"),
            quality_score_col("text").alias("quality"),
            lang_id_col("text").alias("lang"),
            fingerprint_col("text").alias("fingerprint"),
        ).agg(
            F.count(F.lit(1)),
            F.sum("n_tokens"),
            F.sum("quality"),
            F.count_distinct("lang"),
            F.count_distinct("fingerprint"),
        ).collect(),
    )

    total = round(sum(timings.values()), 3)
    crawl_pages = sum(s.get("fetched", 0) + s.get("robots_blocked", 0) for s in crawl_stats)
    result = {
        "metric": "fetch+extract+dedup headline suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "pages": n_pages,
        "pages_per_sec": round(n_pages / timings["extract_all"], 1),
        "pages_per_sec_warm": round(n_pages / timings["extract_all_warm"], 1),
        "crawl_pages_visited": crawl_pages,
        "crawl_pages_per_sec": round(crawl_pages / timings["crawl_bfs_3iter"], 1),
        "ivf_recall_at5": ivf_recalls,
        "cpus": cpus,
    }
    spark.stop()
    return result


def run_extract_scale(sf_dir: str, cpus: int, replicate: int) -> dict:
    """Extract-only job sized for scaling measurement: the replicated
    corpus (replicate × documents) is big enough that per-session fixed
    costs (JVM warmup, Python worker spawn) amortize away."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.plans.extract import extract_pages
    from crawl4ai_spark.session import get_spark
    from crawl4ai_spark.sources.synthetic import build_pages

    # small maxPartitionBytes: the test corpus compresses to ~100 MB, and
    # the scan's split count must exceed the core count for the UDF stage
    # to parallelize (a 100 TB table reaches thousands of splits with the
    # default 128 MB — this knob only compensates for the tiny test files)
    spark = get_spark(
        app_name=f"scale-{cpus}",
        cores=cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "1m",
            # N task threads + N Python workers churn short-lived Arrow
            # buffers: throughput GC + heap headroom keeps collector pauses
            # out of the timed passes (G1's pacing cost ~12% here)
            "spark.driver.memory": "16g",
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC",
        },
    )
    # materialize the replicated corpus to parquet and re-read: truncates
    # the generator lineage so the timed job's plan is a plain scan (the
    # production shape — pages live in a table, not a SQL expression) and
    # per-run driver analysis cost stays negligible
    corpus_dir = os.path.join(
        tempfile.gettempdir(),
        f"scale_corpus_{os.path.basename(sf_dir.rstrip('/'))}_{replicate}",
    )
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        build_pages(spark, sf_dir, replicate=replicate, partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    n = pages.count()

    def job(df):
        # rebuilt per call — Spark 4 reuses the materialized result stage
        # of a collected DataFrame *instance*, which would turn repeat
        # timings into no-ops
        return extract_pages(df, "url", "html").agg(
            F.count(F.lit(1)), F.sum(F.length("markdown.raw_markdown"))
        ).collect()

    # steady-state protocol (identical at both parallelism levels): a warm
    # pass over a 10% slice (every partition → every Python worker spawns,
    # codegen JITs) is untimed; then best-of-3 timed full passes — the
    # sustained-throughput number, robust to GC / worker-respawn hiccups
    # that intermittently hit individual passes.
    job(pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0))
    times = []
    for _ in range(5):
        t0 = time.time()
        job(pages)
        times.append(time.time() - t0)
    sec = min(times)
    spark.stop()
    return {"pages": n, "sec": round(sec, 2), "pages_per_sec": round(n / sec, 1), "cpus": cpus}


def _affinity() -> list[int]:
    """The CPUs this process may run on, in order."""
    if hasattr(os, "sched_getaffinity"):
        return sorted(os.sched_getaffinity(0))
    return list(range(os.cpu_count() or 1))


def default_scaling_levels(n_cpus: int) -> tuple[int, int]:
    """N→4N levels the host can run without oversubscribing: 4,16 from 16
    CPUs up, else N/4,N (1,4 on a 4-CPU host; 1,N below 4 CPUs)."""
    hi = min(16, n_cpus)
    return max(1, hi // 4), hi


def run_scaling(
    sf_dir: str, levels=(4, 16), replicate: int = 24, submit: bool = False
) -> dict:
    """Same fetch+extract job at two parallelism levels on identical input
    — the sandbox evidence for the north rule's N→4N scaling-efficiency
    criterion (no real multi-node cluster available here).

    ``submit=True`` launches each level through genuine ``spark-submit
    --master local[N] --py-files <pkg zip>`` (the north rule's deployment
    mode) with this script STAGED OUTSIDE the repo, so the driver and the
    executor Python workers both import crawl4ai_spark from the shipped
    zip — the exact artifact a multi-node cluster would receive — not from
    the local checkout."""
    import shutil

    runs = {}
    cpus_allowed = _affinity()
    if submit:
        from crawl4ai_spark.deploy import package_zip

        zip_path = package_zip()
        stage = tempfile.mkdtemp(prefix="bench_submit_")
        script = shutil.copy(os.path.abspath(__file__), stage)
        spark_submit = shutil.which("spark-submit") or "spark-submit"
    for cpus in levels:
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=sf_dir,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_BENCH_MODE="extract_scale",
            SPARK_GRAFT_REPLICATE=str(replicate),
        )
        if submit:
            # import path = the shipped zip ONLY (never the checkout):
            # --py-files covers the driver, but the pre-warmed worker
            # daemon module must be importable when the executor JVM
            # spawns it — before addPyFile wiring — so the zip also goes
            # on the JVM's inherited PYTHONPATH (the local-mode analog of
            # spark.executorEnv.PYTHONPATH on a real cluster)
            env["PYTHONPATH"] = zip_path
            cmd = [
                spark_submit,
                "--master", f"local[{cpus}]",
                "--py-files", zip_path,
                script,
            ]
        else:
            cmd = [sys.executable, os.path.abspath(__file__)]
        if shutil.which("taskset"):
            # pin the whole process tree (JVM task threads + Python UDF
            # workers) to exactly `cpus` of the cores this process may use
            # — otherwise a local[8] session quietly borrows all machine
            # cores for its Python workers and the comparison measures
            # nothing
            pin = ",".join(str(c) for c in cpus_allowed[:cpus])
            cmd = ["taskset", "-c", pin] + cmd
        out = subprocess.run(
            cmd, env=env, capture_output=True, text=True, check=True,
            cwd=(stage if submit else None),
        )
        runs[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
    lo, hi = min(levels), max(levels)
    tp = {c: runs[c]["pages_per_sec"] for c in levels}
    eff = (tp[hi] / tp[lo]) / (hi / lo)
    label = "spark-submit --py-files" if submit else "in-process"
    return {
        "metric": (
            f"fetch+extract throughput scaling local[{lo}] -> local[{hi}]"
            f" ({label})"
        ),
        "value": round(eff, 3),
        "unit": "scaling_efficiency",
        "throughput_pages_per_sec": {str(c): tp[c] for c in levels},
        "pages": runs[lo]["pages"],
        "sf": _sf_from_dir(sf_dir),
        "deployment": label,
        "runs": runs,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from crawl4ai_spark.session import default_cores

    cpus = default_cores()
    if os.environ.get("SPARK_GRAFT_BENCH_MODE") == "extract_scale":
        rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "8"))
        print(json.dumps(run_extract_scale(sf_dir, cpus, rep)))
    elif "--scaling" in sys.argv:
        # --levels LO,HI picks the two parallelism levels (default: see
        # default_scaling_levels); e.g. --levels 8,32 measures the same
        # N→4N ratio at double the absolute scale — a second "two cluster
        # sizes" data point for the scaling-efficiency criterion
        n_cpus = len(_affinity())
        levels = default_scaling_levels(n_cpus)
        if "--levels" in sys.argv:
            try:
                raw = sys.argv[sys.argv.index("--levels") + 1]
                levels = tuple(int(x) for x in raw.split(","))
            except (IndexError, ValueError):
                raise SystemExit(
                    "--levels wants LO,HI core counts, e.g. --levels 8,32"
                )
            if len(levels) != 2 or levels[0] >= levels[1]:
                raise SystemExit(f"--levels wants LO,HI with LO < HI; got {raw}")
        if levels[1] > n_cpus:
            raise SystemExit(
                f"--levels {levels[0]},{levels[1]}: this process may run on "
                f"only {n_cpus} CPUs"
            )
        if levels[0] >= levels[1]:
            raise SystemExit(f"--scaling needs at least 2 CPUs; have {n_cpus}")
        print(json.dumps(run_scaling(
            sf_dir, levels=levels, submit="--submit" in sys.argv
        )))
    else:
        print(json.dumps(run_bench(sf_dir, cpus)))


if __name__ == "__main__":
    main()
