"""The workloads: ``ingest`` and ``crawl``, which the benchmark runs, and
``curate``, which ``ingest``'s traced run uses. Each one generates its
inputs from the seed (``setup``), runs one closed-loop pass at a time
(``run_pass``: one caller, the next pass starts when the previous one
ends), checks every pass's outputs (``check_pass`` and ``final_check``),
and in a traced run times its layers (``layers``).

A pass returns its items, the unit of the ``pages_per_s`` metric (pages
extracted, pages fetched; docs when ``curate`` is run on its own).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import WORK, check_digest, cores, digest_rows, load_expected, median

INPUTS = os.path.join(WORK, "inputs")
OUT = os.path.join(WORK, "out")


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_usage(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_bytes, n_files


def _index_and_seek(spark, tracer, seg_glob: str, out: str, seek_urls: list[str]):
    """``cdx_index`` -> parquet, then ``records_from_cdx`` over the index
    rows of ``seek_urls``; returns the fetched (segment, url,
    record_type, md5(payload)) rows."""
    from crawl4ai_spark.sources.warc import cdx_index, records_from_cdx
    from pyspark.sql import functions as F

    with tracer.span("warc.index"):
        cdx_index(spark, seg_glob).write.mode("overwrite").parquet(out)
    with tracer.span("warc.seek"):
        sel = spark.read.parquet(out).filter(F.col("url").isin(seek_urls))
        return records_from_cdx(spark, sel).select(
            "segment", "url", "record_type", F.md5("payload").alias("md5")
        ).collect()


def _check_cdx(spark, out: str, facts: list[dict], fetched, seek_urls) -> tuple[list, list[str]]:
    """(cdx rows, problems): one row per member, each with the generated
    record's md5 and byte range, and seek-fetched payloads equal to the
    scanned digests."""
    rows = spark.read.parquet(out).select(
        "segment", "url", "record_type", "digest", "offset", "length").collect()
    problems = []
    if len(rows) != len(facts):
        problems.append(f"cdx: {len(rows)} rows for {len(facts)} members")
    got = {(os.path.basename(r["segment"]), r["url"], r["record_type"]): r for r in rows}
    for f in facts:
        r = got.get((f["segment"], f["url"], f["record_type"]))
        if r is None or (r["digest"], r["offset"], r["length"]) != (
                f["md5"], f["offset"], f["length"]):
            problems.append(f"cdx: wrong row for {f['url']} {f['record_type']}")
            break
    seek = set(seek_urls)
    want = sum(1 for f in facts if f["url"] in seek)
    keys = {(os.path.basename(r["segment"]), r["url"], r["record_type"]): r["md5"]
            for r in fetched}
    if len(keys) != want or any(
            got.get(k) is None or got[k]["digest"] != v for k, v in keys.items()):
        problems.append("cdx: seek-fetched payloads differ from the scan")
    return rows, problems


class Workload:
    name = ""
    sizes: dict = {}
    # span name -> counters that must be nonzero in a traced run
    guards: dict = {}

    def __init__(self, seed: int):
        self.seed = seed
        self.digests: list[str] = []
        self.layer_problems: list[str] = []

    def setup(self, spark) -> None:
        raise NotImplementedError

    def ops_per_pass(self) -> int:
        """Operations one pass attempts (the unit of attempted/failed)."""
        return 1

    def run_pass(self, spark, i: int, tracer) -> int:
        """Run pass ``i``; returns the items it completed."""
        raise NotImplementedError

    def warmup(self, spark, tracer) -> None:
        """Run the pass's code once on a slice of the input before the
        measured loop, paying the first-use costs a job pays once (JIT,
        code generation, Python worker start)."""

    def steady_times(self, walls: list[float], traced: bool = False) -> list[float]:
        """The measured times behind ``pass_s_p50``."""
        return walls

    def check_pass(self, spark, i: int) -> tuple[int, list[str]]:
        """(failed items, problems) for pass ``i``; records its digest."""
        raise NotImplementedError

    def final_check(self, spark) -> list[str]:
        return []

    def layers(self, spark, tracer) -> dict:
        return {}

    def layer_metrics(self, attr, spans) -> dict:
        """Per-layer metrics that need the event log (called after the
        session stopped)."""
        return {}


# -- curate --------------------------------------------------------------------

_RELAXED_GATES = dict(min_words=10, min_stop_types=0, min_alpha_ratio=0.0,
                      min_mean_wl=1.0, max_mean_wl=20.0, max_symbol_ratio=1.0)
_CURATE_COLS = ("doc_id", "kept", "drop_stage", "lang", "gopher_keep", "rep_keep",
                "c4_keep", "quality_prob", "n_lines", "n_lines_kept", "dup_span_frac",
                "is_exact_dup", "is_near_dup", "is_embed_dup", "contaminated", "pii",
                "text_out")


class Curate(Workload):
    """``curate_corpus`` over line-structured docs with exact and near
    duplicates; one pass collects every output column per doc.

    Not one of the benchmark's workloads (a pass is mostly fixed plan and
    stage overhead, which does not fit the benchmark's time budget next to
    the other two): ``ingest``'s traced run runs one checked pass of it and
    times its layers. It can still be run on its own by name."""

    name = "curate"
    sizes = {"base_docs": 100, "replicas": 6}
    guards = {"curate.pass": ("shuffle_write_B",),
              "datapipe.dedup_exact": ("shuffle_write_B",),
              "datapipe.dedup_minhash": ("shuffle_write_B",),
              "datapipe.linededup": ("shuffle_write_B",),
              "datapipe.spandedup": ("shuffle_write_B",),
              "datapipe.webquality": ("task_ms",),
              "datapipe.pii": ("task_ms",)}

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from inputs import curate_docs

        docs = curate_docs(self.seed, self.sizes["base_docs"], self.sizes["replicas"])
        d = _fresh(os.path.join(INPUTS, "curate"))
        n = cores()
        for k in range(n):
            part = docs[k::n]
            pq.write_table(pa.table({
                "doc_id": pa.array([p[0] for p in part], pa.int64()),
                "text": [p[1] for p in part],
            }), os.path.join(d, f"part-{k:03d}.parquet"))
        self.path = d
        self.n_docs = len(docs)

    def _curated(self, spark, path=None):
        from crawl4ai_spark.datapipe.curate import curate_corpus
        from pyspark.sql import functions as F

        return curate_corpus(
            spark.read.parquet(path or self.path), span_window=20, span_stride=10,
            minhash_threshold=0.8, minhash_hash_fn=F.xxhash64,
            gopher_kwargs=_RELAXED_GATES, languages=("en", "und", "de", "fr", "es"),
        )

    def _collect(self, spark, path=None):
        from pyspark.sql import functions as F

        return self._curated(spark, path).select(
            "doc_id", "kept", "drop_stage", F.md5("text_out"),
            F.length(F.to_json(F.struct(*_CURATE_COLS))).alias("w"),
        ).collect()

    def warmup(self, spark, tracer):
        self._collect(spark, os.path.join(self.path, sorted(os.listdir(self.path))[0]))

    def run_pass(self, spark, i, tracer):
        with tracer.span("curate.pass"):
            self._rows = self._collect(spark)
        return self.n_docs

    def check_pass(self, spark, i):
        rows, problems = self._rows, []
        if len(rows) != self.n_docs or len({r[0] for r in rows}) != self.n_docs:
            problems.append(f"curate pass {i}: {len(rows)} rows for {self.n_docs} docs")
        if any(r["w"] is None for r in rows):
            problems.append(f"curate pass {i}: a null output row")
        self.digests.append(digest_rows(tuple(r[:4]) for r in rows))
        return (1 if problems else 0), problems

    def layers(self, spark, tracer):
        from crawl4ai_spark.datapipe.curate import curation_report
        from crawl4ai_spark.datapipe.dedup import exact_dedup_groups, minhash_dedup_pairs
        from crawl4ai_spark.datapipe.linededup import dedup_lines_corpus
        from crawl4ai_spark.datapipe.pii import pii_counts_col, redact_pii_col
        from crawl4ai_spark.datapipe.spandedup import dedup_spans_corpus
        from crawl4ai_spark.datapipe.webquality import (
            c4_clean_col,
            gopher_gate_col,
            gopher_metrics_frame,
        )
        from pyspark.sql import functions as F

        df = spark.read.parquet(self.path)
        with tracer.span("datapipe.webquality"):
            gopher_metrics_frame(df, "text", struct_col="m").select(
                gopher_gate_col(F.col("m"), **_RELAXED_GATES).cast("long").alias("k"),
                F.length(c4_clean_col("text")["text_clean"]).alias("n"),
            ).agg(F.sum("k"), F.sum("n")).collect()
        with tracer.span("datapipe.dedup_exact"):
            exact_dedup_groups(df, "doc_id", "text").agg(
                F.count(F.lit(1)), F.sum("n_docs")).collect()
        with tracer.span("datapipe.dedup_minhash"):
            minhash_dedup_pairs(df, "doc_id", "text", threshold=0.8,
                                hash_fn=F.xxhash64).count()
        with tracer.span("datapipe.linededup"):
            dedup_lines_corpus(df, "doc_id", "text").agg(
                F.sum("n_lines_kept"), F.sum(F.length("text_clean"))).collect()
        with tracer.span("datapipe.spandedup"):
            dedup_spans_corpus(df, "doc_id", "text", window=20).agg(
                F.sum("n_tiles_kept"), F.sum(F.length("text_clean"))).collect()
        with tracer.span("datapipe.pii"):
            df.select(pii_counts_col("text").alias("p"), redact_pii_col("text").alias("r")) \
                .agg(F.sum("p.n_email"), F.sum(F.length("r"))).collect()
        # attrition of the last traced pass, through the public report
        with tracer.span("datapipe.report"):
            report = curation_report(spark.createDataFrame(
                [(r["doc_id"], r["drop_stage"]) for r in self._rows],
                "doc_id long, drop_stage string")).collect()
        kept = sum(r["n_docs"] for r in report if r["drop_stage"] is None)
        m = {f"datapipe.{k}_s": tracer.seconds(f"datapipe.{k}")[0]
             for k in ("webquality", "dedup_exact", "dedup_minhash", "linededup",
                       "spandedup", "pii")}
        m["datapipe.curate_s"] = median([s["end"] - s["start"] for s in tracer.spans
                                          if s["name"] == "curate.pass" and s["traced"]])
        m["datapipe.kept_frac"] = kept / self.n_docs
        return m

    def layer_metrics(self, attr, spans):
        from harness import inclusive

        per = [inclusive(attr, spans, s["id"]) for s in spans
               if s["name"] == "curate.pass" and s["traced"]]
        return {"datapipe.shuffle_write_B": median([p["shuffle_write_B"] for p in per]),
                "datapipe.spill_B": median([p["spill_B"] for p in per])}


# -- ingest --------------------------------------------------------------------


class Ingest(Workload):
    """WARC segments -> ``pages_from_warc`` -> ``extract_pages`` -> parquet.

    The traced run also times the WARC index and seek layers on the same
    segments, and the ``datapipe`` layers through one checked ``Curate``
    pass over the same seed's curation docs."""

    name = "ingest"
    sizes = {"captures": 100, "median_kb": 24, "sigma": 0.8, "min_kb": 2,
             "max_kb": 200, "non200_frac": 0.1, "check_sample": 48}
    guards = {"ingest.pass": ("py_worker_ms",), "warc.scan": ("py_worker_ms",),
              "extract": ("py_worker_ms",), "warc.index": ("py_worker_ms",),
              "warc.seek": ("py_worker_ms",), **Curate.guards}

    def setup(self, spark) -> None:
        from inputs import warc_captures, write_segments

        s = self.sizes
        caps = warc_captures(self.seed, s["captures"], s["median_kb"], s["sigma"],
                             s["min_kb"], s["max_kb"], s["non200_frac"])
        self.seg_dir = _fresh(os.path.join(INPUTS, "ingest"))
        self.facts = write_segments(self.seg_dir, caps, cores())
        self.ok = {c["url"]: c["body"] for c in caps if c["status"] == 200}
        self.glob = os.path.join(self.seg_dir, "*.warc.gz")

    def _out(self, i):
        return os.path.join(OUT, f"ingest{i}")

    def _extract(self, spark, seg_glob, out):
        from crawl4ai_spark.plans.extract import extract_pages
        from crawl4ai_spark.sources.warc import pages_from_warc

        pages = pages_from_warc(spark, seg_glob)
        extract_pages(pages).select("url", "warc_ts", "scrape", "markdown") \
            .write.mode("overwrite").parquet(out)

    def warmup(self, spark, tracer):
        first = sorted(os.listdir(self.seg_dir))[0]
        self._extract(spark, os.path.join(self.seg_dir, first), os.path.join(OUT, "warmup"))

    def run_pass(self, spark, i, tracer):
        self.last_pass = i
        with tracer.span("ingest.pass"):
            self._extract(spark, self.glob, self._out(i))
        return len(self.ok)

    def ops_per_pass(self):
        return len(self.ok)

    def check_pass(self, spark, i):
        from pyspark.sql import functions as F

        rows = spark.read.parquet(self._out(i)).select(
            "url",
            F.md5("markdown.raw_markdown"),
            F.md5("markdown.fit_markdown"),
            F.md5("markdown.markdown_with_citations"),
            F.md5("scrape.text"),
            F.coalesce("scrape.success", F.lit(False)).alias("ok"),
            F.col("markdown.raw_markdown").isNull().alias("null_md"),
        ).collect()
        failed = sum(1 for r in rows if not r["ok"] or r["null_md"])
        problems = []
        urls = [r["url"] for r in rows]
        if sorted(urls) != sorted(self.ok):
            problems.append(f"ingest pass {i}: {len(urls)} pages out, "
                            f"{len(self.ok)} 200 captures in")
            failed = len(self.ok)
        self.digests.append(digest_rows(tuple(r[:5]) for r in rows))
        return failed, problems

    def _sample(self):
        rng = random.Random(self.seed)
        urls = rng.sample(sorted(self.ok), min(self.sizes["check_sample"], len(self.ok)))
        return [(u, self.ok[u]) for u in urls]

    def final_check(self, spark):
        """Recompute a seeded sample driver-side through the public html
        functions and require byte equality with the last pass."""
        from kernels import kernel_profile
        from pyspark.sql import functions as F

        sample = self._sample()
        self.sample_outputs, self.kernel_metrics = kernel_profile(sample, "large")
        got = {
            r["url"]: r
            for r in spark.read.parquet(self._out(self.last_pass))
            .filter(F.col("url").isin([u for u, _ in sample]))
            .select("url", "markdown.raw_markdown", "markdown.markdown_with_citations",
                    "markdown.fit_markdown", "scrape.text")
            .collect()
        }
        problems = []
        for url, want in self.sample_outputs.items():
            row = got.get(url)
            for k in ("raw_markdown", "markdown_with_citations", "fit_markdown", "text"):
                if row is None or row[k] != want[k]:
                    problems.append(f"ingest: {url} {k} differs from the driver-side kernel")
                    break
        return problems

    def layers(self, spark, tracer):
        from crawl4ai_spark.plans.extract import extract_pages
        from crawl4ai_spark.sources.warc import pages_from_warc
        from kernels import warc_parse_profile

        mat = os.path.join(OUT, "ingest_pages")
        with tracer.span("warc.scan"):
            pages_from_warc(spark, self.glob).write.mode("overwrite").parquet(mat)
        with tracer.span("extract"):
            extract_pages(spark.read.parquet(mat)).select(
                "url", "warc_ts", "scrape", "markdown"
            ).write.mode("overwrite").parquet(os.path.join(OUT, "ingest_extract"))
        cdx = os.path.join(OUT, "ingest_cdx")
        seek = random.Random(self.seed).sample(sorted(self.ok), 8)
        fetched = _index_and_seek(spark, tracer, self.glob, cdx, seek)
        _, self.layer_problems = _check_cdx(spark, cdx, self.facts, fetched, seek)
        segs = sorted(os.listdir(self.seg_dir))
        with open(os.path.join(self.seg_dir, segs[0]), "rb") as f:
            prof = warc_parse_profile(f.read())
        seg_bytes = sum(os.path.getsize(os.path.join(self.seg_dir, s)) for s in segs)
        html_kb = sum(len(b) for b in self.ok.values()) / 1024
        m = dict(self.kernel_metrics)
        m.update({
            "warc.scan_s": tracer.seconds("warc.scan")[0],
            "extract.wall_s": tracer.seconds("extract")[0],
            "warc.index_s": tracer.seconds("warc.index")[0],
            "warc.seek_s": tracer.seconds("warc.seek")[0],
            "warc.parse_us_per_member": prof["parse_us_per_member"],
            "warc.members_per_segment": prof["members"],
            "warc.compressed_MB": seg_bytes / 2**20,
        })
        self._kernel_ms = m["html.kernel_us_per_KB.large"] * html_kb / 1000

        # datapipe: one checked curate pass, then each tier on its own
        self.curate = Curate(self.seed)
        self.curate.setup(spark)
        self.curate.run_pass(spark, 0, tracer)
        _, problems = self.curate.check_pass(spark, 0)
        self.layer_problems += problems + check_digest(
            "curate", self.seed, self.curate.digests, load_expected())
        m.update(self.curate.layers(spark, tracer))
        return m

    def layer_metrics(self, attr, spans):
        from harness import span_totals

        ex = span_totals(attr, spans, "extract")
        return {
            "extract.task_ms": ex["task_ms"],
            "extract.py_worker_ms": ex["py_worker_ms"],
            "extract.py_bytes_sent": ex["py_bytes_sent"],
            "extract.overhead_frac": 1 - self._kernel_ms / max(1e-9, ex["task_ms"]),
            **self.curate.layer_metrics(attr, spans),
        }


# -- crawl ---------------------------------------------------------------------


class Crawl(Workload):
    """``CrawlRun`` over a ``build_pages`` corpus from a seeded random seed
    sample. One pass is one whole crawl (bootstrap + a fixed number of
    ``run_iteration`` calls) in a fresh workdir, so every pass is the same
    deterministic crawl and its visit order and seen set can be checked.

    The regime thresholds are scaled with the corpus so the paths a large
    crawl takes all run here: more seeds than ``broadcast_frontier_max``
    (distributed bootstrap), a seen set above ``bloom_min_seen`` from the
    first iteration (bloom pre-filter), a frontier above
    ``salt_bypass_rows`` (salted politeness windows)."""

    name = "crawl"
    sizes = {"docs": 12000, "seeds": 3000, "iterations": 2, "host_budget": 6,
             "broadcast_frontier_max": 2000, "bloom_min_seen": 2000,
             "salt_bypass_rows": 1000, "kernel_sample": 200, "seen_candidates": 6000}
    guards = {"crawl.iter": ("py_worker_ms", "shuffle_write_B")}

    def config(self):
        from crawl4ai_spark.plans.crawl import CrawlConfig

        s = self.sizes
        return CrawlConfig(
            max_pages=10**9, max_depth=50, host_budget=s["host_budget"],
            pages_unique=True,
            broadcast_frontier_max=s["broadcast_frontier_max"],
            bloom_min_seen=s["bloom_min_seen"],
            salt_bypass_rows=s["salt_bypass_rows"],
        )

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from crawl4ai_spark.sources.synthetic import build_pages
        from inputs import corpus_url, write_documents

        s = self.sizes
        d = _fresh(os.path.join(INPUTS, "crawl"))
        write_documents(os.path.join(d, "documents.parquet"), self.seed, s["docs"])
        build_pages(spark, d, partitions=2 * cores()).write.parquet(os.path.join(d, "pages"))
        rng = random.Random(self.seed)
        ids = rng.sample(range(s["docs"]), s["seeds"])
        pq.write_table(pa.table({
            "url": [corpus_url(i) for i in ids],
            "seed_rank": pa.array(range(len(ids)), pa.int32()),
        }), os.path.join(d, "seeds.parquet"))
        self.dir = d
        self.iters: list[dict] = []  # one record per run_iteration call
        self.runs: dict[int, object] = {}

    def _inputs(self, spark):
        from crawl4ai_spark.sources.synthetic import build_robots

        return (spark.read.parquet(os.path.join(self.dir, "pages")), build_robots(spark),
                spark.read.parquet(os.path.join(self.dir, "seeds.parquet")))

    def run_pass(self, spark, i, tracer):
        from crawl4ai_spark.plans.crawl import CrawlRun

        pages, robots, seeds = self._inputs(spark)
        workdir = _fresh(os.path.join(OUT, f"crawl{i}"))
        cfg = self.config()
        run = CrawlRun(spark, pages, robots, seeds, workdir, cfg)
        self.runs[i] = run
        fetched = 0  # over the whole crawl, bootstrap included
        with tracer.span("crawl.pass"):
            for it in range(self.sizes["iterations"]):
                st = run.state()
                with tracer.span("crawl.iter") as sp:
                    t0 = time.perf_counter()
                    r = run.run_iteration()
                    wall = time.perf_counter() - t0
                if r.get("done"):
                    raise RuntimeError(f"crawl ended early: {r}")
                n_bytes, n_files = _dir_usage(workdir) if tracer.sc else (0, 0)
                self.iters.append({
                    "pass": i, "iteration": it, "wall": wall, "span": sp["id"],
                    "traced": sp["traced"],
                    "bootstrap": wall - r["seconds"] if it == 0 else 0.0,
                    # before iteration 0 the frontier and the seen set are
                    # the bootstrap's seeds (all distinct urls)
                    "n_seen": st["n_seen"] if it else self.sizes["seeds"],
                    "n_frontier": st["n_frontier"] if it else self.sizes["seeds"],
                    "bytes": n_bytes, "files": n_files, **r,
                })
                fetched += r["fetched"]
        return fetched

    # iteration 0 (bootstrap plus the first iteration) is each crawl's
    # warm-up: steady_times, behind pass_s_p50, leaves it out, while
    # pages_per_s counts the whole crawl

    def ops_per_pass(self):
        return self.sizes["iterations"]

    def steady_times(self, walls, traced=False):
        return [r["wall"] for r in self.iters if r["traced"] == traced and r["iteration"] > 0]

    def check_pass(self, spark, i):
        run = self.runs[i]
        res = run.results().select("url", "depth", "visit_order").collect()
        seen = run.seen().select("url_norm").collect()
        problems = []
        orders = sorted(r["visit_order"] for r in res)
        if orders != list(range(1, len(res) + 1)):
            problems.append(f"crawl pass {i}: visit_order is not dense and unique")
        if len({r["url"] for r in res}) != len(res):
            problems.append(f"crawl pass {i}: a url was visited twice")
        self.digests.append(digest_rows(
            [("r",) + tuple(r) for r in res] + [("s", r[0]) for r in seen]
        ))
        n_iter = sum(1 for r in self.iters if r["pass"] == i)
        return (n_iter if problems else 0), problems

    def layers(self, spark, tracer):
        from crawl4ai_spark.functions.urlnorm import normalize_deep_udf
        from crawl4ai_spark.operators.politeness import host_budget_rank
        from crawl4ai_spark.operators.seen import (
            bloom_maybe_contains_col,
            build_bloom,
            dedup_against_seen,
        )
        from crawl4ai_spark.sources.snapshots import SnapshotTable
        from inputs import corpus_url
        from kernels import kernel_profile
        from pyspark.sql import functions as F

        s, cfg = self.sizes, self.config()
        last = max(self.runs)
        run = self.runs[last]
        workdir = os.path.join(OUT, f"crawl{last}")
        m: dict = {}

        # html kernel on the crawl's small pages
        rng = random.Random(self.seed)
        ids = rng.sample(range(s["docs"]), s["kernel_sample"])
        rows = (spark.read.parquet(os.path.join(self.dir, "pages"))
                .filter(F.col("url").isin([corpus_url(i) for i in ids]))
                .select("url", "html").collect())
        _, km = kernel_profile([(r["url"], bytes(r["html"])) for r in sorted(rows)], "small")
        m.update(km)

        # seen set: final seen table vs a seeded sample of corpus urls
        seen_df = run.seen().cache()
        n_seen = seen_df.count()
        ids = rng.sample(range(s["docs"]), s["seen_candidates"])
        cands = spark.createDataFrame([(corpus_url(i),) for i in ids], "url string")
        cands = cands.select("url", normalize_deep_udf(F.col("url"), F.col("url"))
                             .alias("url_norm")).cache()
        n_cands = cands.count()
        with tracer.span("seen.bloom_build"):
            bloom = build_bloom(seen_df, num_bits=cfg.bloom_bits, hash_col="url_hash")
        with tracer.span("seen.antijoin"):
            n_plain = dedup_against_seen(cands, seen_df, seen_unique=True).count()
        with tracer.span("seen.bloom_dedup"):
            n_bloom = dedup_against_seen(cands, seen_df, bloom=bloom, seen_unique=True).count()
        if n_plain != n_bloom:
            self.layer_problems = [f"seen: bloom dedup kept {n_bloom}, anti-join {n_plain}"]
        new_keys = dedup_against_seen(cands, seen_df, seen_unique=True).select("url_norm")
        probe = bloom_maybe_contains_col(spark, bloom, F.col("url_norm"))
        fp = new_keys.select(probe.cast("double").alias("m")).agg(F.avg("m")).first()[0]
        maybe = cands.select(probe.cast("double").alias("m")).agg(F.avg("m")).first()[0]
        m.update({
            "seen.bloom_build_s": tracer.seconds("seen.bloom_build")[0],
            "seen.antijoin_s": tracer.seconds("seen.antijoin")[0],
            "seen.bloom_dedup_s": tracer.seconds("seen.bloom_dedup")[0],
            "seen.fpp": fp or 0.0,
            "seen.prefilter_drop_frac": 1 - (maybe or 0.0),
            "crawl.seen_rows": n_seen,
        })
        cands.unpersist()
        seen_df.unpersist()
        if n_cands == 0:
            raise RuntimeError("seen: no candidates")

        # politeness: salted host-budget rank over the final frontier
        frontier = SnapshotTable(os.path.join(workdir, "frontier")).read(spark)
        with tracer.span("politeness.rank"):
            per_host = host_budget_rank(
                frontier, ["depth", "score", "url"], budget=cfg.host_budget,
                salt=cfg.salt, small_input=False,
            ).groupBy("host").count().collect()
        total = sum(r["count"] for r in per_host)
        m["politeness.rank_s"] = tracer.seconds("politeness.rank")[0]
        m["politeness.max_host_share"] = max(r["count"] for r in per_host) / max(1, total)

        # snapshots: growth per iteration and data dirs a read unions
        mine = [r for r in self.iters if r["pass"] == last]
        db = [b["bytes"] - a["bytes"] for a, b in zip(mine, mine[1:])]
        dfiles = [b["files"] - a["files"] for a, b in zip(mine, mine[1:])]
        dirs = 0
        for t in ("frontier", "seen", "results", "lineage", "host_state"):
            dirs += len(SnapshotTable(os.path.join(workdir, t)).snapshot_dirs() or [])
        m.update({"snapshots.bytes_per_iter": median(db),
                  "snapshots.files_per_iter": median(dfiles),
                  "snapshots.dirs_read": dirs})

        # counters from run_iteration()
        steady = [r for r in self.iters if r["traced"] and r["iteration"] > 0]
        prof = lambda k: median([r["profile"][k] for r in steady])  # noqa: E731
        links = {
            r["iteration"]: r["n"]
            for r in run.results().groupBy("iteration")
            .agg(F.sum(F.coalesce(F.size("links"), F.lit(0))).alias("n")).collect()
        }
        new_frac = [r["new_urls"] / max(1, links.get(r["iteration"], 0)) for r in mine]
        m.update({
            "crawl.bootstrap_s": median([r["bootstrap"] for r in self.iters if r["iteration"] == 0]),
            "crawl.first_iter_s": median([r["wall"] for r in self.iters if r["iteration"] == 0]),
            "crawl.fetch_extract_s": prof("fetch_extract"),
            "crawl.discover_dedup_s": prof("discover_dedup"),
            "crawl.commit_s": prof("commit"),
            "crawl.selected": median([r["selected"] for r in steady]),
            "crawl.fetched": median([r["fetched"] for r in steady]),
            "crawl.robots_blocked": median([r["robots_blocked"] for r in steady]),
            "crawl.new_urls": median([r["new_urls"] for r in steady]),
            "crawl.new_url_frac": median(new_frac),
            "crawl.fetch_hit_frac": median([
                r["fetched"] / max(1, r["selected"] - r["robots_blocked"]) for r in steady
            ]),
            "crawl.bloom_iters": sum(1 for r in mine if r["n_seen"] >= cfg.bloom_min_seen),
            "crawl.salted_iters": sum(1 for r in mine if r["n_frontier"] > cfg.salt_bypass_rows),
            "crawl.distributed_bootstrap": int(s["seeds"] > cfg.broadcast_frontier_max),
        })
        return m

    def layer_metrics(self, attr, spans):
        from harness import inclusive

        per = [inclusive(attr, spans, r["span"]) for r in self.iters
               if r["traced"] and r["iteration"] > 0]
        pick = lambda k: median([p[k] for p in per])  # noqa: E731
        return {
            "crawl.task_ms": pick("task_ms"),
            "crawl.py_worker_ms": pick("py_worker_ms"),
            "crawl.shuffle_read_B": pick("shuffle_read_B"),
            "crawl.shuffle_write_B": pick("shuffle_write_B"),
            "crawl.jobs_per_iter": pick("jobs"),
            "crawl.tasks_per_iter": pick("tasks"),
        }


WORKLOADS = {w.name: w for w in (Ingest, Crawl, Curate)}
