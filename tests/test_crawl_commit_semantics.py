"""Round-5 semantics fixes: success-only page budget (reference
bfs_strategy.py:172-174), seen-before-capacity-slice (bfs_strategy.py:121
vs :124-130), best-first capacity trim direction, the forward-only
multi-table commit and its resume roll-forward, read_since cursor
validation, and the bloom hash_col fast path.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
from crawl4ai_spark.sources.snapshots import SnapshotTable
from crawl4ai_spark.sources.synthetic import build_robots, build_seeds


def test_budget_counts_only_successes(spark, pages):
    """max_pages consumes only success=True rows; robots-403 rows are
    results but never budget. visit_order stays dense over ALL rows."""
    wd = tempfile.mkdtemp(prefix="budget_")
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=25, max_depth=4, host_budget=100000,
                    include_external=True),
    )
    # per-iteration: the budget counter advances by FETCHED (successes),
    # never by the full result count (reference bfs_strategy.py:172-174)
    before = 0
    for _ in range(8):
        s = run.run_iteration()
        if s.get("done"):
            break
        assert s["pages_crawled"] == before + s["fetched"]
        assert s["selected"] >= s["fetched"]
        before = s["pages_crawled"]
    res = run.results()
    n_success = res.filter("success").count()
    n_all = res.count()
    assert n_all > n_success  # the corpus graph produces 403s
    meta = run.t_frontier.snapshot_meta()
    assert meta["pages_crawled"] == n_success
    assert meta["n_visited"] == n_all
    # success budget is respected, and the blocked rows did NOT consume it:
    # total visits exceed what an all-rows budget would ever have crawled
    # (the reference, too, may finish under max_pages when capacity-trimmed
    # links later 403 — remaining_capacity assumes trimmed links succeed)
    assert n_success <= 25
    assert n_all > n_success >= 20
    # visit_order is dense and unique over all result rows
    orders = [r[0] for r in res.select("visit_order").collect()]
    assert sorted(orders) == list(range(1, n_all + 1))


def test_seen_includes_capacity_dropped(spark, pages):
    """Capacity-trimmed discoveries still enter the seen set (the
    reference's visited.add runs before the trim), so a later iteration
    can never re-enqueue them; the frontier gets only the kept rows."""
    wd = tempfile.mkdtemp(prefix="captrim_")
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=5, max_depth=4, host_budget=100000,
                    include_external=True),
    )
    s0 = run.run_iteration()
    meta = run.t_frontier.snapshot_meta()
    seen_growth = meta["n_seen"] - 3  # 3 seeds bootstrap the seen set
    assert seen_growth > s0["new_urls"], "expected a capacity trim"
    # the dropped candidates are in seen but not in the frontier
    seen_new = run.seen().filter("first_iter = 1").count()
    assert seen_new == seen_growth
    assert meta["n_frontier"] == s0["new_urls"]
    # seen keys stay unique (the anti-join contract) even with the trim
    seen = run.seen()
    assert seen.count() == seen.select("url_norm").distinct().count()


def test_capacity_topk_ascending_keeps_lowest(spark):
    from crawl4ai_spark.operators.ranking import capacity_topk

    df = spark.createDataFrame(
        [(f"u{i:02d}", float(i)) for i in range(20)], "url string, score double"
    )
    hi = {r.url for r in capacity_topk(df, 5, small_input=True).collect()}
    lo = {r.url for r in
          capacity_topk(df, 5, small_input=True, ascending=True).collect()}
    assert hi == {f"u{i:02d}" for i in range(15, 20)}
    assert lo == {f"u{i:02d}" for i in range(5)}


def test_resume_reconciles_crashed_iteration(spark, pages):
    """A workdir left mid-commit by the undo-style protocol (other tables
    committed BEFORE the frontier replace) holds snapshots tagged with
    the iteration the frontier has not reached. Resume refuses it loudly,
    naming the table, instead of re-running the iteration over those rows
    and appending them a second time."""
    wd = tempfile.mkdtemp(prefix="reconcile_")
    cfg = CrawlConfig(mode="bfs", max_pages=100000, max_depth=3,
                      host_budget=100000, include_external=True)
    run = CrawlRun(spark, pages, build_robots(spark), build_seeds(spark, 3),
                   wd, cfg)
    run.run_iteration()
    n0 = run.results().count()
    # iteration 1 as the undo protocol left it on a crash: results
    # committed and tagged 1, while the frontier still says 1 is next
    run.t_results.append(run.results(), {"iteration": 1})
    run2 = CrawlRun(spark, pages, build_robots(spark), build_seeds(spark, 3),
                    wd, cfg)
    with pytest.raises(RuntimeError, match="results table"):
        run2.run_iteration()
    with pytest.raises(RuntimeError, match="results table"):
        run2.expire_seen(F.lit(True))
    # refused, not repaired: nothing was committed or removed
    assert run2.results().count() == 2 * n0
    assert run2.state()["iteration"] == 1


class _Crash(Exception):
    """Stands in for the process dying at a chosen manifest commit."""


# three iterations (0, 1, 2) over the test corpus; adaptive politeness
# puts host_state in every apply record
_CRASH_CFG = dict(
    mode="bfs", max_pages=30, max_depth=2, host_budget=3,
    include_external=True, adaptive_politeness=True,
)
# manifest commits in order: the frontier commit point, then the apply
# record's entries
_COMMIT_ORDER = {
    "bootstrap": ["frontier", "seen"],
    "steady": ["frontier", "results", "seen", "lineage", "host_state"],
}
# (phase, k, when): crash at the k-th manifest commit of the phase,
# "before" its manifest write (its dir is already renamed to data-*: the
# publish window) or right "after" it
_CRASH_POINTS = [
    ("bootstrap", 0, "before"),
    ("bootstrap", 1, "before"),
    ("bootstrap", 1, "after"),
    ("steady", 0, "before"),
    ("steady", 1, "before"),
    ("steady", 2, "before"),
    ("steady", 3, "before"),
    ("steady", 4, "before"),
    ("steady", 4, "after"),
]


def _crash_run(spark, pages, wd):
    return CrawlRun(spark, pages, build_robots(spark), build_seeds(spark, 2),
                    wd, CrawlConfig(**_CRASH_CFG))


def _crawl_tables(run) -> dict:
    return {
        "results": sorted(
            tuple(r) for r in run.results()
            .select("url", "depth", "visit_order", "iteration").collect()
        ),
        "seen": sorted(r.url_norm for r in run.seen().collect()),
        "lineage": sorted(
            tuple(r) for r in run.lineage().select(
                "iteration", "stage", "partition_id", "urls_in", "fetched",
                "robots_blocked", "emitted",
            ).collect()
        ),
        "host_state": sorted(tuple(r) for r in run.host_state().collect()),
    }


def _drain(spark, table, ck: str, out: str) -> list:
    """Run a checkpointed results stream to the end of what is committed
    (availableNow) and return everything it has delivered so far."""
    q = (
        table.stream(spark).writeStream.format("parquet")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    return sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("url", "visit_order").collect()
    )


@pytest.fixture(scope="module")
def crash_reference(spark, pages, tmp_path_factory):
    """The uninterrupted crawl's tables after iteration 0 and at the end,
    plus a copy of its workdir after iteration 0 for the steady-iteration
    crashes to start from."""
    wd = str(tmp_path_factory.mktemp("crash_ref") / "wd")
    run = _crash_run(spark, pages, wd)
    assert not run.run_iteration()["done"]
    base = str(tmp_path_factory.mktemp("crash_base") / "wd")
    shutil.copytree(wd, base)
    after_bootstrap = _crawl_tables(run)
    stats = run.run(max_iterations=10)
    assert [s["iteration"] for s in stats[:-1]] == [1, 2]
    return base, {"bootstrap": after_bootstrap, "steady": _crawl_tables(run)}


@pytest.mark.parametrize(
    "phase,k,when", _CRASH_POINTS,
    ids=[f"{p}-{_COMMIT_ORDER[p][k]}-{w}" for p, k, w in _CRASH_POINTS],
)
def test_crash_matrix_resumes_to_uninterrupted_crawl(
    spark, pages, crash_reference, tmp_path, monkeypatch, phase, k, when
):
    """A crash at any manifest commit of the bootstrap or of a steady
    iteration, then a resume with a fresh CrawlRun, ends with the same
    results, seen, lineage and host_state as a crawl that never crashed:
    after iteration 0 for a bootstrap crash, at the end of the crawl for
    a steady one. A results stream started before the crash delivers
    every row exactly once, and a crash before the frontier commit
    leaves nothing visible."""
    base, expected = crash_reference
    wd = str(tmp_path / "wd")
    stream = (str(tmp_path / "ck"), str(tmp_path / "out"))
    if phase == "steady":
        shutil.copytree(base, wd)
    run = _crash_run(spark, pages, wd)
    if phase == "steady":
        delivered = _drain(spark, run.t_results, *stream)
        tips = {key: t.current_snapshot_id() for key, t in run._tables.items()}
        rows = {key: t.read(spark).count() for key, t in run._tables.items()}

    committed: list[str] = []
    real_commit = SnapshotTable._commit_manifest

    def crashing_commit(self, manifest):
        committed.append(os.path.basename(self.root))
        if len(committed) == k + 1 and when == "before":
            raise _Crash()
        real_commit(self, manifest)
        if len(committed) == k + 1:
            raise _Crash()

    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "_commit_manifest", crashing_commit)
        with pytest.raises(_Crash):
            run.run_iteration()
    assert committed[k] == _COMMIT_ORDER[phase][k]

    if k == 0 and when == "before":
        # the commit point never landed: no table shows the iteration
        if phase == "bootstrap":
            assert run.t_frontier.read(spark) is None
            assert run.t_seen.read(spark) is None
            assert run.t_seen.read_since(spark, None) == (None, None)
        else:
            assert run.state()["iteration"] == 1
            for key, t in run._tables.items():
                assert t.current_snapshot_id() == tips[key]
                assert t.read(spark).count() == rows[key]
                if key != "host_state":  # the one replace-mode table
                    assert t.read_since(spark, tips[key]) == (tips[key], None)
            assert _drain(spark, run.t_results, *stream) == delivered

    resumed = _crash_run(spark, pages, wd)
    resumed.run(max_iterations=1 if phase == "bootstrap" else 10)
    got = _crawl_tables(resumed)
    assert got == expected[phase]
    if phase == "steady":
        assert _drain(spark, resumed.t_results, *stream) == sorted(
            (url, visit_order) for url, _, visit_order, _ in got["results"]
        )


def test_read_since_unknown_cursor_raises(spark, tmp_path):
    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(5).toDF("id")
    t.append(df)
    cur, delta = t.read_since(spark, None)
    assert delta.count() == 5
    with pytest.raises(ValueError, match="not found"):
        t.read_since(spark, cur + 999)


def _mirror_files(sd: str) -> set[str]:
    return {f for f in os.listdir(sd) if f.endswith(".parquet")}


def test_stream_mirror_copy_fallback(spark, tmp_path, monkeypatch):
    """Filesystems without hardlink support (EPERM/EOPNOTSUPP from
    link(2)) degrade to an atomic copy instead of failing — a raised
    OSError here would make every commit on a streamed table livelock
    (commit lands, sync raises, retry reconciles and re-fails)."""
    from crawl4ai_spark.sources import snapshots as snap

    t = snap.SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.range(4).toDF("id"))

    def no_link(src, dst, *a, **kw):
        raise PermissionError("link(2) not supported on this mount")

    monkeypatch.setattr(snap.os, "link", no_link)
    t.stream(spark)
    sd = t._stream_path
    assert _mirror_files(sd)
    t.append(spark.range(4, 6).toDF("id"))  # commit-path sync also copies
    assert spark.read.parquet(sd).count() == 6


def test_stream_sync_incremental_touches_only_new_dirs(spark, tmp_path, monkeypatch):
    """The commit-path mirror sync is O(new files): it must listdir only
    the dirs the _synced marker hasn't seen, not every historical data
    dir (which would make a 10k-iteration crawl's commits O(n^2))."""
    from crawl4ai_spark.sources import snapshots as snap

    t = snap.SnapshotTable(str(tmp_path / "tbl"))
    for i in range(3):
        t.append(spark.range(i * 2, i * 2 + 2).toDF("id"))
    t.stream(spark)

    listed: list[str] = []
    real_listdir = os.listdir

    def spy(path="."):
        listed.append(os.fspath(path))
        return real_listdir(path)

    monkeypatch.setattr(snap.os, "listdir", spy)
    t.append(spark.range(6, 8).toDF("id"))
    data_dirs_listed = {p for p in listed if "/data-" in p}
    assert len(data_dirs_listed) == 1  # only the dir this commit added


def test_manifest_is_delta_encoded(spark, tmp_path):
    """Snapshot records store (base, added) deltas, so each data dir name
    appears ONCE in the manifest no matter how many later snapshots
    include it — full per-snapshot dir lists would make the manifest
    O(dirs²) and its per-commit rewrite the dominant driver cost on a
    10k-iteration crawl. Chain resolution, time travel and read_since
    all operate on the resolved lists."""
    import pyarrow as pa

    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for i in range(8):
        t.append(pa.table({"id": [i]}), {"iteration": i})
    raw = open(t._manifest_path).read()
    dirs = t.snapshot_dirs()
    assert len(dirs) == 8
    for d in dirs:
        assert raw.count(d) == 1  # delta encoding: one mention per dir
    # every snapshot resolves to the dir-prefix of its commit point
    for k, s in enumerate(t.snapshots()):
        assert t.snapshot_dirs(s["id"]) == dirs[: k + 1]
    assert t.read(spark, snapshot_id=3).count() == 3  # time travel intact
    # read_since over the delta chain still yields only the new dirs
    cur, delta = t.read_since(spark, t.snapshots()[2]["id"])
    assert delta.count() == 5


def test_reader_full_sync_spares_racing_commit_links(spark, tmp_path):
    """stream()'s reader-side full sync races live commits: its manifest
    read can predate a commit whose files are already linked into the
    mirror (and recorded in the writer's _synced marker). The age-gated
    prune must spare those fresh links — deleting them would skip the
    commit in every later incremental sync, silently and forever. Old
    unreferenced links (genuine debris) must still be pruned."""
    import json
    import time

    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.range(3).toDF("id"))
    t.stream(spark)  # creates the mirror
    stale = t._read_manifest()  # the reader's (soon-to-be-stale) view
    t.append(spark.range(3, 6).toDF("id"))  # racing commit: links + marker
    sd = t._stream_path
    n_before = len([f for f in os.listdir(sd) if f.endswith(".parquet")])
    # plant genuine debris: an unreferenced link old enough to prune.
    # Age is judged by ctime (link-creation time — utime can't fake it),
    # so age the debris by patching os.stat for that one path.
    debris = os.path.join(sd, "data-debris__part-0.parquet")
    open(debris, "wb").close()
    import unittest.mock

    real_stat = os.stat

    class _Aged:
        def __init__(self, st):
            self._st = st

        st_ctime = property(lambda self: time.time() - 3600)

        def __getattr__(self, name):
            return getattr(self._st, name)

    def fake_stat(path, *a, **kw):
        st = real_stat(path, *a, **kw)
        return _Aged(st) if os.fspath(path) == debris else st

    # replay the reader's prune with its stale manifest (the race, made
    # deterministic): fresh commit links must survive, debris must not
    with unittest.mock.patch(
        "crawl4ai_spark.sources.snapshots.os.stat", side_effect=fake_stat
    ):
        t._sync_stream_dir(full=True, prune_min_age_s=300.0, manifest=stale)
    names = set(os.listdir(sd))
    assert "data-debris__part-0.parquet" not in names  # old debris pruned
    kept = [f for f in names if f.endswith(".parquet")]
    assert len(kept) == n_before  # racing commit's links all survived
    # and the writer's marker still delivers them: stream reads 6 rows
    assert spark.read.parquet(sd).count() == 6
    marker = json.load(open(os.path.join(sd, "_synced")))
    assert set(marker["dirs"]) <= set(t.snapshot_dirs())


def test_build_bloom_hash_col_matches_string_path(spark):
    from crawl4ai_spark.operators.seen import build_bloom

    df = spark.createDataFrame(
        [(f"https://h{i}.example/p/{i}",) for i in range(500)], "url_norm string"
    ).withColumn("url_hash", F.xxhash64("url_norm"))
    a = build_bloom(df, num_bits=1 << 16)
    b = build_bloom(df, num_bits=1 << 16, hash_col="url_hash")
    assert a.bits.tobytes() == b.bits.tobytes()


def test_linkage_tolerates_ragged_vectors(spark):
    """A truncated/null embedding must not kill the clustering job."""
    from crawl4ai_spark.datapipe.similarity import cosine_cluster_linkage

    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.5]),
            (4, None), (5, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    planes = [[1.0, 0.2, -0.3], [-0.4, 1.0, 0.1], [0.2, -0.5, 1.0]]
    out = cosine_cluster_linkage(
        df, planes, id_col="id", vec_col="vec", max_dist=0.05,
        linkage_method="average",
    ).collect()
    labels = {r.vec_id: r.cluster_label for r in out}
    assert len(labels) == 5
    assert labels[1] == labels[2]  # identical vectors still cluster
    assert labels[5] != labels[1]


def test_expire_snapshots_reclaims_replaced_dirs(spark, tmp_path):
    """On a replace-heavy table (frontier, host_state), expire_snapshots
    must drop old snapshot records AND physically reclaim the data dirs
    only those records referenced — without it a 10k-iteration crawl
    retains 10k dead frontier copies on disk."""
    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for i in range(6):
        t.replace(spark.range(i, i + 3).toDF("id"), meta={"iteration": i})
    dirs_before = [
        d for d in os.listdir(t.root) if d.startswith("data-")
    ]
    assert len(dirs_before) == 6  # one live + five dead copies
    dropped = t.expire_snapshots(keep_last=2)
    assert dropped == 4
    dirs_after = [d for d in os.listdir(t.root) if d.startswith("data-")]
    assert len(dirs_after) == 2  # only the two surviving snapshots' dirs
    # the tip still reads, time travel within the window still works
    assert sorted(r.id for r in t.read(spark).collect()) == [5, 6, 7]
    snaps = t.snapshots()
    assert len(snaps) == 2
    anchor_id = snaps[0]["id"]
    assert sorted(
        r.id for r in t.read(spark, snapshot_id=anchor_id).collect()
    ) == [4, 5, 6]
    # meta survives the anchor rewrite (resume reconciliation reads it)
    assert t.snapshot_meta(anchor_id) == {"iteration": 4}
    # expired history is gone: unknown id resolves to None
    assert t.snapshot_dirs(anchor_id - 1) is None


def test_expire_snapshots_append_only_keeps_data_compacts_manifest(
    spark, tmp_path
):
    """On an append-only table every dir is still referenced by the tip,
    so expiry reclaims no data — it only compacts the manifest's record
    list (the anchor becomes a full-dir-list record)."""
    from crawl4ai_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for i in range(5):
        t.append(spark.range(i * 2, i * 2 + 2).toDF("id"))
    assert t.expire_snapshots(keep_last=1) == 4
    assert len(t.snapshots()) == 1
    assert t.read(spark).count() == 10  # every appended row survives
    # a cursor below the anchor now raises the rebuilt-table error
    # instead of silently re-delivering
    with pytest.raises(ValueError, match="not found"):
        t.read_since(spark, 2)


def test_failed_iteration_releases_caches_and_bloom(spark, pages):
    """A raise mid-iteration (here: the fail-loud fetch fan-out guard)
    must release every frame the iteration persisted and the bloom
    broadcast — an in-process retry after a failure must start from a
    clean executor-memory slate, not accumulate dead caches per attempt."""
    wd = tempfile.mkdtemp(prefix="leak_")
    # duplicate every page row while claiming pages_unique=True: the
    # left join fans out and the n_deferred<0 guard raises after the
    # fetch caches are built
    dup_pages = pages.unionByName(pages)
    run = CrawlRun(
        spark, dup_pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=50, max_depth=3,
                    host_budget=100000, include_external=True,
                    pages_unique=True),
    )
    n_cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(RuntimeError, match="fan-out"):
        run.run_iteration()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == n_cached_before
    assert run._bloom_bc is None
    assert run._iter_caches == []


def test_replace_tables_hold_bounded_snapshots(spark, pages):
    """The crawl loop expires frontier/host_state history every
    iteration: a long crawl holds O(retention) data dirs on the
    replace-per-iteration tables, not one dead full copy per iteration."""
    wd = tempfile.mkdtemp(prefix="retain_")
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=100000, max_depth=10,
                    host_budget=2, include_external=True,
                    adaptive_politeness=True, snapshot_retention=2),
    )
    iters = 0
    for _ in range(5):
        if run.run_iteration().get("done"):
            break
        iters += 1
    assert iters >= 4, "graph too small to exercise retention"
    for t in (run.t_frontier, run.t_host_state):
        assert len(t.snapshots()) <= 2
        n_dirs = len([d for d in os.listdir(t.root) if d.startswith("data-")])
        assert n_dirs <= 2
    # results/seen keep full history (append-only; external tailers may
    # hold cursors) — and the crawl still resumes correctly
    run2 = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=100000, max_depth=10,
                    host_budget=2, include_external=True,
                    adaptive_politeness=True, snapshot_retention=2),
    )
    s = run2.run_iteration()
    assert not s.get("done") or s.get("reason") != "error"


def test_bootstrap_dedup_is_min_url_wins_on_both_paths(spark, pages):
    """When two raw seed URLs normalize to the same key, BOTH bootstrap
    paths (driver-side fast path, distributed mega-frontier path) keep
    the lexicographic-min raw URL — dropDuplicates would pick whichever
    partition won the shuffle, so a resumed mega-frontier could crawl a
    different representative per run."""
    raw = [
        "https://host0.example/page#frag",  # same key as the bare url
        "https://host0.example/page",
        "https://host9.example/only",
    ]
    seeds = spark.createDataFrame([(u,) for u in raw], "url string")
    reps = {}
    for path, max_rows in (("fast", 200_000), ("distributed", 1)):
        wd = tempfile.mkdtemp(prefix=f"minwins_{path}_")
        run = CrawlRun(
            spark, pages, build_robots(spark), seeds, wd,
            CrawlConfig(mode="bfs", max_pages=10, max_depth=1,
                        broadcast_frontier_max=max_rows),
        )
        run._bootstrap()
        reps[path] = {
            r.url_norm: r.url for r in run.t_frontier.read(spark).collect()
        }
    assert reps["fast"] == reps["distributed"]
    assert reps["fast"]["https://host0.example/page"] == "https://host0.example/page"
    assert len(reps["fast"]) == 2


def test_host_state_join_broadcasts_by_stats_not_hint(spark, tmp_path, pages):
    """The politeness join reads host_state from parquet, so Catalyst's
    scan size stats must pick the broadcast while the table is small —
    and a forced hint must NOT appear, or a 100M-host crawl would OOM
    the driver. Proxy: with broadcasting disabled the join must degrade
    to a shuffle (a hinted join would broadcast regardless)."""
    wd = tempfile.mkdtemp(prefix="hsplan_")
    run = CrawlRun(
        spark, pages, build_robots(spark), build_seeds(spark, 3), wd,
        CrawlConfig(mode="bfs", max_pages=50, max_depth=2,
                    host_budget=100000, include_external=True,
                    adaptive_politeness=True),
    )
    run.run_iteration()  # writes host_state
    hs_df = run.t_host_state.read(spark)
    frontier = pages.select(
        "url", F.expr("parse_url(url, 'HOST')").alias("host")
    )
    joined = frontier.join(hs_df.select("host", "current_delay"), "host", "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # stats pick it while small
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined2 = frontier.join(
            hs_df.select("host", "current_delay"), "host", "left"
        )
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2  # no forced hint
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
