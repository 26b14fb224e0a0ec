"""Frontier-loop correctness: reference-trace parity, politeness budgets,
robots gating, dedup, and checkpoint resume.

The trace oracle re-executes the reference's BFS semantics
(bfs_strategy.py:142-192 + link_discovery :68-140, determinized per the
north rule) in pure Python over the same deterministic corpus graph.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
from crawl4ai_spark.sources.synthetic import (
    FULLY_BLOCKED_HOST,
    N_HOSTS,
    build_pages,
    build_robots,
    build_seeds,
)


def _host_id(i: int) -> int:
    return 0 if i % 5 < 2 else i % N_HOSTS


def _allowed(i: int) -> bool:
    h = _host_id(i)
    if h == FULLY_BLOCKED_HOST:
        return False
    if h % 4 == 0 and str(i).startswith("1"):
        return False
    return True


def _url(i: int) -> str:
    return f"https://host{_host_id(i)}.example/p/{i}"


def python_bfs(n_docs: int, seeds: list[int], max_depth: int) -> dict[int, int]:
    """Reference BFS over the corpus graph: returns {doc_id: first depth}
    for successfully fetched (robots-allowed) docs. Blocked docs are visited
    (403) but never expanded."""
    visited: set[int] = set(seeds)
    fetched: dict[int, int] = {}
    level = list(seeds)
    depth = 0
    while level and depth <= max_depth:
        next_level: list[int] = []
        for i in level:
            if not _allowed(i):
                continue  # 403: visited but not expanded
            fetched[i] = depth
            if depth == max_depth:
                continue
            for j in ((i * 2 + 1) % n_docs, (i * 2 + 2) % n_docs, (i * 7 + 3) % n_docs):
                if j not in visited:
                    visited.add(j)
                    next_level.append(j)
        level = next_level
        depth += 1
    return fetched


@pytest.fixture(scope="module")
def crawl_run(spark, sf_dir, pages, tmp_path_factory):
    robots = build_robots(spark)
    seeds = build_seeds(spark, 3)
    wd = str(tmp_path_factory.mktemp("crawl_test"))
    cfg = CrawlConfig(
        mode="bfs",
        max_pages=100000,
        max_depth=4,
        host_budget=100000,  # unlimited → iteration == BFS level
        salt=4,
        include_external=True,
    )
    run = CrawlRun(spark, pages.cache(), robots, seeds, wd, cfg)
    run.run(max_iterations=10)
    return run


def test_bfs_trace_parity(crawl_run, pages):
    """Fetched set and first-discovery depths equal the reference trace."""
    n_docs = pages.count()
    expected = python_bfs(n_docs, [0, 1, 2], max_depth=4)
    got = {
        r.url: r.depth
        for r in crawl_run.results().filter("success").select("url", "depth").collect()
    }
    exp_urls = {_url(i): d for i, d in expected.items()}
    assert got == exp_urls


def test_robots_blocked_are_403_not_expanded(crawl_run):
    res = crawl_run.results()
    blocked = res.filter("status_code = 403").select("url").collect()
    assert blocked, "corpus must produce robots blocks"
    for r in blocked:
        assert "host7.example" in r.url or "/p/1" in r.url
    # a blocked page's children discovered ONLY via other parents:
    # host7 pages are never parents
    parents = {
        r.parent_url
        for r in res.select("parent_url").collect()
        if r.parent_url is not None
    }
    assert not any("host7.example" in p for p in parents)


def test_seen_set_unique(crawl_run):
    seen = crawl_run.seen()
    assert seen.count() == seen.select("url_norm").distinct().count()


def test_visit_order_dense_and_deterministic(crawl_run):
    res = crawl_run.results().select("visit_order").collect()
    orders = sorted(r.visit_order for r in res)
    assert orders == list(range(1, len(orders) + 1))


def test_lineage_written(crawl_run):
    lin = crawl_run.lineage()
    assert lin is not None
    rows = lin.collect()
    iters = sorted({r.iteration for r in rows})
    assert iters[0] == 0 and len(iters) >= 3
    # per-partition fetch rows must reconcile with the results table
    fetch = [r for r in rows if r.stage == "fetch"]
    assert sum(r.urls_in for r in fetch) == crawl_run.results().count()
    assert sum(r.fetched for r in fetch) == crawl_run.results().filter("success").count()
    # discover rows must reconcile with the seen-set growth beyond seeds
    disc_emitted = sum(r.emitted for r in rows if r.stage == "discover")
    n_seeds = crawl_run.seen().filter("first_iter = 0").count()
    assert disc_emitted == crawl_run.seen().count() - n_seeds


def test_politeness_budget_enforced(spark, pages, tmp_path):
    robots = build_robots(spark)
    seeds = build_seeds(spark, 3)
    wd = str(tmp_path)
    cfg = CrawlConfig(
        mode="bfs", max_pages=200, host_budget=5, salt=4, include_external=True
    )
    run = CrawlRun(spark, pages, robots, seeds, wd, cfg)
    run.run(max_iterations=6)
    res = run.results()
    worst = (
        res.groupBy("iteration", "host").count().agg(F.max("count")).collect()[0][0]
    )
    assert worst <= 5


def test_filter_conditions_drop_discovered_urls(spark, pages, tmp_path):
    """A ``filter_conditions`` entry maps the url Column to a boolean
    Column (the reference's filter_chain): discovered urls it rejects are
    never seen nor fetched, while the same crawl without it reaches them.
    The seeds (hosts 0 and 2) do not carry the token."""
    token = "://host3."
    robots = build_robots(spark)
    seeds = build_seeds(spark, 3)

    def crawl(wd, conditions):
        cfg = CrawlConfig(
            mode="bfs", max_pages=100000, max_depth=3, host_budget=100000,
            include_external=True, filter_conditions=conditions,
        )
        run = CrawlRun(spark, pages, robots, seeds, str(wd), cfg)
        run.run(max_iterations=4)
        return [
            t.filter(F.col(col).contains(token)).count()
            for t, col in ((run.results(), "url"), (run.seen(), "url_norm"))
        ]

    assert min(crawl(tmp_path / "open", [])) > 0
    assert crawl(
        tmp_path / "filtered", [lambda url: ~url.contains(token)]
    ) == [0, 0]


def test_contract_crawl_row_removes_its_workdir(spark, sf_dir):
    """The crawl_bfs contract row crawls in a temporary workdir and
    returns its collected rows, so no ``c4ai_bfs_*`` workdir stays in
    the temp dir."""
    import os
    import tempfile

    from crawl4ai_spark.contract import QUERIES

    def workdirs():
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("c4ai_bfs_")}

    before = workdirs()
    assert QUERIES["crawl_bfs"](spark, sf_dir).collect()
    assert workdirs() <= before


def test_resume_equivalence(spark, pages, tmp_path):
    """Running 4 iterations in one go == 2 + (new CrawlRun) + 2 over the
    same workdir — snapshot checkpointing makes the crawl resumable."""
    robots = build_robots(spark)
    seeds = build_seeds(spark, 3)
    cfg = CrawlConfig(
        mode="bfs", max_pages=100000, max_depth=3, host_budget=100000,
        include_external=True,
    )

    wd_a = str(tmp_path / "crawl_once")
    run_a = CrawlRun(spark, pages, robots, seeds, wd_a, cfg)
    run_a.run(max_iterations=4)

    wd_b = str(tmp_path / "crawl_resumed")
    run_b1 = CrawlRun(spark, pages, robots, seeds, wd_b, cfg)
    run_b1.run(max_iterations=2)
    # simulate a fresh driver process picking up the same workdir
    run_b2 = CrawlRun(spark, pages, robots, seeds, wd_b, cfg)
    run_b2.run(max_iterations=2)

    a = {(r.url, r.depth, r.status_code) for r in run_a.results().collect()}
    b = {(r.url, r.depth, r.status_code) for r in run_b2.results().collect()}
    assert a == b
    assert run_a.state() == run_b2.state()


def test_best_first_min_score_first(spark, pages, tmp_path):
    """Best-first pops LOWEST score first (reference quirk O1)."""
    from crawl4ai_spark.operators import path_depth_score

    robots = build_robots(spark)
    seeds = build_seeds(spark, 1)
    wd = str(tmp_path)
    cfg = CrawlConfig(
        mode="best_first",
        max_pages=40,
        iteration_budget=10,  # reference BATCH_SIZE
        host_budget=100000,
        include_external=True,
        scorer=lambda url: path_depth_score(url, optimal_depth=1),
    )
    run = CrawlRun(spark, pages, robots, seeds, wd, cfg)
    run.run(max_iterations=4)
    res = run.results().orderBy("visit_order").collect()
    assert len(res) > 10
    # within one iteration, scores must be non-decreasing in visit order
    by_iter: dict[int, list[float]] = {}
    for r in res:
        by_iter.setdefault(r.iteration, []).append(r.score)
    for scores in by_iter.values():
        assert scores == sorted(scores)


def test_stream_results_tailing(spark, pages, tmp_path):
    """Snapshot tailing = the batch analog of stream=True delivery."""

    from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
    from crawl4ai_spark.sources.synthetic import build_robots, build_seeds

    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 4),
        str(tmp_path / "tail"),
        CrawlConfig(mode="bfs", max_pages=60, max_depth=2, host_budget=5),
    )
    seen_rows = 0
    cursor = None
    for _ in range(3):
        s = run.run_iteration()
        cursor_new, delta = run.t_results.read_since(spark, cursor)
        if delta is not None:
            n = delta.count()
            assert n > 0
            seen_rows += n
        cursor = cursor_new
        if s.get("done"):
            break
    # tailed increments must equal the full table
    assert seen_rows == run.results().count()
    # and a repeat read at the same cursor yields nothing new
    _, nothing = run.t_results.read_since(spark, cursor)
    assert nothing is None


def test_streaming_tail_of_results(spark, pages, sf_dir, tmp_path):
    """Structured Streaming over the results snapshot table: an
    availableNow pass delivers exactly the committed rows, and a second
    pass after another iteration delivers only the delta."""

    from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
    from crawl4ai_spark.sources.synthetic import build_robots, build_seeds

    wd = str(tmp_path / "stream")
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=40, max_depth=3, iteration_budget=10),
    )
    run.run_iteration()
    committed = run.results().count()

    ckpt = str(tmp_path / "stream_ckpt")
    out_dir = str(tmp_path / "stream_out")

    def drain():
        q = (
            run.t_results.stream(spark)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out_dir).count() == committed

    run.run_iteration()
    committed2 = run.results().count()
    assert committed2 > committed
    drain()  # checkpointed cursor: only the delta files are processed
    assert spark.read.parquet(out_dir).count() == committed2


def test_kb_export_import_roundtrip(spark, pages, tmp_path):
    """S12: export the crawl results as a JSONL knowledge base (one JSON
    doc per line, distributed part files) and read it back losslessly."""

    from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
    from crawl4ai_spark.sources.kb_export import (
        export_knowledge_base,
        import_knowledge_base,
    )
    from crawl4ai_spark.sources.synthetic import build_robots, build_seeds

    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path / "kb"),
        CrawlConfig(mode="bfs", max_pages=20, max_depth=2, iteration_budget=10),
    )
    run.run(max_iterations=2)
    results = run.results()
    out = str(tmp_path / "kb_jsonl")
    export_knowledge_base(results, out, fmt="jsonl")
    back = import_knowledge_base(spark, out, fmt="jsonl")
    assert back.count() == results.count()
    assert {"url", "timestamp", "success", "content", "crawl_order"} <= set(back.columns)
    ok = results.filter("success")
    got = {r.url: r.content for r in back.collect() if r.success}
    want = {r.url: r.raw_markdown for r in ok.select("url", "raw_markdown").collect()}
    assert got == want
    # partitioned export: file count bounded by values × files_per_partition
    # (salted write), not input tasks × values, and reads back complete
    pout = str(tmp_path / "kb_part")
    export_knowledge_base(
        results.repartition(16), pout, fmt="parquet",
        partition_by=["success"], files_per_partition=2,
    )
    import glob as _glob

    files = _glob.glob(f"{pout}/success=*/*.parquet")
    assert 1 <= len(files) <= 4
    assert import_knowledge_base(spark, pout, fmt="parquet").count() == results.count()


def test_multi_capture_pages_fetch_latest_and_counters_sane(spark, pages, tmp_path):
    """A WARC-style corpus with several captures per URL must not fan out
    the fetch join: one result row per selected URL (the latest capture by
    warc_ts), manifest counters consistent, n_deferred never negative."""
    import datetime as _dt

    old = pages.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 DAY")
    ).withColumn("html", F.encode(F.lit("<html><body>stale</body></html>"), "UTF-8"))
    dup_pages = pages.unionByName(old).unionByName(
        old.withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 2 DAY"))
    )
    run = CrawlRun(
        spark,
        dup_pages,
        build_robots(spark),
        build_seeds(spark, 3),
        str(tmp_path / "c4ai_dup"),
        CrawlConfig(mode="bfs", max_pages=30, max_depth=2, host_budget=5),
    )
    stats = run.run(max_iterations=3)
    res = run.results()
    # 1:1 — no URL appears twice in the results
    per_url = res.groupBy("url").count().filter(F.col("count") > 1).count()
    assert per_url == 0
    # the latest capture won: no 'stale' body ever extracted
    assert res.filter(F.col("text").contains("stale")).count() == 0
    # counters arithmetically sane across iterations
    for s in stats:
        if not s.get("done"):
            assert s["selected"] >= s["fetched"]
    # and identical visit set to the clean single-capture corpus
    clean = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path / "c4ai_clean"),
        CrawlConfig(mode="bfs", max_pages=30, max_depth=2, host_budget=5),
    )
    clean.run(max_iterations=3)
    got = {(r.url, r.visit_order) for r in res.select("url", "visit_order").collect()}
    want = {(r.url, r.visit_order)
            for r in clean.results().select("url", "visit_order").collect()}
    assert got == want


def test_pages_unique_fanout_raises_before_lineage_commit(spark, pages, tmp_path):
    """pages_unique=True on a corpus that actually has duplicate captures
    must fail loud (RuntimeError naming the fan-out) and must raise BEFORE
    the iteration's lineage commit — a retried iteration must not
    double-append lineage rows."""
    dup_pages = pages.unionByName(
        pages.withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 DAY"))
    )
    run = CrawlRun(
        spark,
        dup_pages,
        build_robots(spark),
        build_seeds(spark, 3),
        str(tmp_path),
        CrawlConfig(
            mode="bfs", max_pages=30, max_depth=2, host_budget=5,
            pages_unique=True,
        ),
    )
    with pytest.raises(RuntimeError, match="fan-out"):
        run.run(max_iterations=1)
    lineage = run.lineage()
    assert lineage is None or lineage.count() == 0


def test_stream_mirror_is_manifest_driven(spark, tmp_path):
    """stream() reads a hardlink mirror written only AFTER manifest
    commits, so even FRESH crash debris — a data-* dir whose writer died
    between the publish rename and the manifest commit, seconds ago —
    can never be delivered (the old data-* glob source had a documented
    300 s residual window here). Writer-side commits keep the mirror in
    sync without another stream() call."""
    import glob as _glob
    import os

    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(5).withColumnRenamed("id", "v")
    t.append(df, {"iteration": 0})

    # publish-rename crash, NOT backdated: fresh debris the read path
    # leaves alone but the stream must still never deliver
    staged = t._write_data(spark.range(100, 103).withColumnRenamed("id", "v"))
    orphan = "data-" + staged[len(".staging-"):]
    os.replace(os.path.join(t.root, staged), os.path.join(t.root, orphan))

    src = t.stream(spark)
    mirror = os.path.join(t.root, "stream")
    assert os.path.isdir(mirror)
    # the mirror holds exactly the committed snapshot's files (plus one
    # .linked-<dir> sentinel per dir, hidden from Spark's file source)
    assert spark.read.schema(src.schema).parquet(mirror).count() == 5
    assert all(
        f.startswith("data-")
        for f in os.listdir(mirror)
        if not f.startswith(("_", "."))
    )
    assert not any(f.startswith(orphan) for f in os.listdir(mirror))
    assert os.path.exists(os.path.join(t.root, orphan))  # readers never sweep

    # a writer-side commit syncs the live mirror with NO further stream()
    t.append(spark.range(10, 14).withColumnRenamed("id", "v"), {"iteration": 1})
    assert spark.read.schema(src.schema).parquet(mirror).count() == 9
    surviving = set(t.snapshot_dirs())
    assert {
        f.split("__", 1)[0]
        for f in os.listdir(mirror)
        if not f.startswith(("_", "."))
    } <= surviving
    assert _glob.glob(os.path.join(mirror, "*.parquet"))  # mirror non-empty


def test_stream_never_sees_uncommitted_or_replaced_data(spark, tmp_path):
    """A writer that crashes between the parquet write and the manifest
    commit must leave nothing a stream can deliver (writes are staged in
    dot-dirs and only renamed to data-* at commit time), and stream()
    must reject tables whose history contains a replace()."""
    import glob as _glob
    import os

    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(5).withColumnRenamed("id", "v")
    t.append(df)
    # simulate the crash: data written, manifest never committed
    staged = t._write_data(spark.range(100, 103).withColumnRenamed("id", "v"))
    assert staged.startswith(".staging-")
    # nothing uncommitted matches the published glob ...
    assert len(_glob.glob(os.path.join(t.root, "data-*"))) == 1
    # ... so batch read AND the stream's source see only committed rows
    assert t.read(spark).count() == 5
    files = spark.read.parquet(os.path.join(t.root, "data-*")).count()
    assert files == 5
    # the resumed run re-appends; the orphaned staging dir stays invisible
    t.append(spark.range(100, 103).withColumnRenamed("id", "v"))
    assert t.read(spark).count() == 8
    assert spark.read.parquet(os.path.join(t.root, "data-*")).count() == 8

    # replace() history is rejected by stream()
    r = SnapshotTable(str(tmp_path / "rep"))
    r.append(df)
    r.replace(spark.range(2).withColumnRenamed("id", "v"))
    with pytest.raises(ValueError, match="append-only"):
        r.stream(spark)


def test_crash_debris_swept_on_commit_and_stream(spark, tmp_path):
    """The narrower crash window: a writer that dies BETWEEN the
    .staging->data-* publish rename and the manifest replace leaves an
    unreferenced data-* dir. Debris hygiene is the WRITER's alone: the
    next commit sweeps it unconditionally, while stream() never sweeps
    (a reader cannot tell dead debris from a live writer's quiescent
    staged dir awaiting a slow sibling's two-phase commit) — the
    manifest-driven mirror means debris can't reach the stream anyway."""
    import glob as _glob
    import os

    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(5).withColumnRenamed("id", "v")
    t.append(df)

    # simulate the rename-then-die crash: published data dir, no manifest
    staged = t._write_data(spark.range(100, 103).withColumnRenamed("id", "v"))
    orphan_data = "data-" + staged[len(".staging-"):]
    os.replace(os.path.join(t.root, staged), os.path.join(t.root, orphan_data))
    # and a mid-write crash: an orphan staging dir
    orphan_staging = t._write_data(spark.range(7).withColumnRenamed("id", "v"))
    assert os.path.exists(os.path.join(t.root, orphan_data))

    # stream() leaves the debris alone (it might be a live writer's
    # in-flight publish) AND delivers only committed rows: the mirror is
    # built from the manifest, never from a data-* glob
    t.stream(spark)
    assert os.path.exists(os.path.join(t.root, orphan_data))
    assert os.path.exists(os.path.join(t.root, orphan_staging))
    assert spark.read.parquet(t._stream_path).count() == 5

    # the commit path sweeps UNCONDITIONALLY — even seconds-old debris:
    # under the serial-writer contract the committing writer is the only
    # live writer, so the debris above is provably dead by the time a
    # commit runs
    t.append(spark.range(10, 13).withColumnRenamed("id", "v"))
    assert t.read(spark).count() == 8
    assert spark.read.parquet(t._stream_path).count() == 8
    # only the two committed dirs survive
    assert len(_glob.glob(os.path.join(t.root, "data-*"))) == 2
    assert not _glob.glob(os.path.join(t.root, ".staging-*"))
    # time-travel dirs are NEVER swept: snapshot 1 still reads in full
    assert t.read(spark, snapshot_id=1).count() == 5

def test_bootstrap_fast_path_is_one_probe_job(spark, pages, tmp_path):
    """The config-sized seed bootstrap pays exactly ONE driver-thread Spark
    job: limit(max+1).collect() both decides the path and delivers the rows
    (the old protocol paid a separate count()). The snapshot commits run in
    pool threads and don't inherit the job group, so the group counts only
    the driver thread's control-flow jobs."""
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path),
        CrawlConfig(mode="bfs", max_pages=20, max_depth=1),
    )
    sc = spark.sparkContext
    sc.setJobGroup("bootstrap_probe_test", "bootstrap")
    try:
        run._bootstrap()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("bootstrap_probe_test")
    assert len(jobs) == 1, f"bootstrap ran {len(jobs)} driver-thread jobs: {jobs}"
    # and the bootstrap still produced a correct frontier
    assert run.state()["iteration"] == 0
    assert run.state()["n_frontier"] == 3


def test_bloom_broadcasts_destroyed_per_iteration(
    spark, pages, monkeypatch, tmp_path
):
    """Long-crawl broadcast hygiene: the loop builds a fresh bloom bitset
    broadcast every iteration — each must be destroy()ed by the end of its
    iteration, or a 10k-iteration crawl accumulates ~10 GiB of dead
    broadcasts on driver and executors. Spy on SparkContext.broadcast and
    assert live-count stays 0 after ≥20 bloom iterations."""
    from pyspark import SparkContext

    bits_len = (1 << 16) // 8
    created, destroyed = [], []
    orig_broadcast = SparkContext.broadcast

    def spy_broadcast(self, value):
        bc = orig_broadcast(self, value)
        if isinstance(value, bytes) and len(value) == bits_len:
            created.append(bc)
            orig_destroy = bc.destroy

            def spy_destroy(blocking=False, _od=orig_destroy, _bc=bc):
                destroyed.append(_bc)
                return _od(blocking)

            bc.destroy = spy_destroy
        return bc

    monkeypatch.setattr(SparkContext, "broadcast", spy_broadcast)
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3),
        str(tmp_path),
        CrawlConfig(
            mode="bfs", max_pages=100000, max_depth=30, host_budget=1,
            bloom_min_seen=1, bloom_bits=1 << 16, include_external=True,
        ),
    )
    stats = run.run(max_iterations=22)
    n_iter = len([s for s in stats if not s.get("done")])
    assert n_iter >= 20, f"crawl ended after {n_iter} iterations"
    # the bloom engages from iteration 1 (needs a committed seen set)
    assert len(created) >= n_iter - 1
    assert len(created) - len(destroyed) == 0, (
        f"{len(created) - len(destroyed)} bloom broadcasts leaked over "
        f"{n_iter} iterations"
    )
    assert run._bloom_bc is None


def test_bloom_path_visit_set_matches_exact_path(spark, pages, tmp_path):
    """Force the bloom pre-filter on (bloom_min_seen=1: engages from
    iteration 2) — the visit set must equal the exact anti-join run's,
    exercising the precomputed-flag split end-to-end."""
    base = dict(mode="bfs", max_pages=60, max_depth=3, host_budget=5)
    runs = {}
    for tag, extra in (
        ("exact", {}),
        ("bloom", {"bloom_min_seen": 1, "bloom_bits": 1 << 16}),
    ):
        run = CrawlRun(
            spark, pages, build_robots(spark), build_seeds(spark, 3),
            str(tmp_path / tag),
            CrawlConfig(**base, **extra),
        )
        run.run(max_iterations=4)
        runs[tag] = {
            (r.url, r.visit_order)
            for r in run.results().select("url", "visit_order").collect()
        }
    assert runs["bloom"] == runs["exact"]
