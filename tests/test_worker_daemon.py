"""The worker daemon's stat-gated ``zipimporter.invalidate_caches``: a task
re-reads a zip's directory only when the archive changed on disk, and the
session's Python workers really run with the gate installed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from crawl4ai_spark import worker_daemon

# the stdlib re-reads eagerly unless zipimporter defers to _get_files
needs_gate = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this CPython's zipimporter re-reads lazily; no gate is installed",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@needs_gate
def test_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "gated.zip")
    _write_zip(archive, {"c4ai_gate_a": "VALUE = 1\n"})
    reads: list[str] = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_daemon._gated_invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("c4ai_gate_a").VALUE == 1

        def rereads() -> int:
            before = reads.count(archive)
            importlib.invalidate_caches()
            return reads.count(archive) - before

        # the importer's first invalidation reads (no stamp yet); after
        # that an unchanged archive is never re-read
        assert rereads() >= 1
        assert rereads() == 0
        assert rereads() == 0

        # a rewritten archive is re-read, and its new module imports
        _write_zip(archive, {"c4ai_gate_a": "VALUE = 1\n",
                             "c4ai_gate_b": "VALUE = 2\n"})
        assert rereads() >= 1
        assert importlib.import_module("c4ai_gate_b").VALUE == 2
        assert rereads() == 0

        # a deleted archive: the gated and the stdlib method leave the
        # same state behind (empty directory, cache entry dropped)
        gated = zipimport.zipimporter(archive)
        stdlib = zipimport.zipimporter(archive)
        os.remove(archive)
        worker_daemon._STDLIB_INVALIDATE(stdlib)
        assert stdlib._files == {}
        zipimport._zip_directory_cache[archive] = {"stale": None}
        before = reads.count(archive)
        gated.invalidate_caches()
        assert reads.count(archive) == before + 1
        assert gated._files == {}
        assert archive not in zipimport._zip_directory_cache
    finally:
        for name in ("c4ai_gate_a", "c4ai_gate_b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)


@needs_gate
def test_session_workers_run_the_gate(spark):
    """Catches a session that silently stops forking its Python workers
    from ``crawl4ai_spark.worker_daemon``."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def invalidate_impl(s: pd.Series) -> pd.Series:
        import os
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        name = f"{os.path.basename(fn.__code__.co_filename)}:{fn.__name__}"
        return s.map(lambda _: name)

    got = {
        r.impl for r in
        spark.range(4).select(invalidate_impl(F.col("id").cast("string"))
                              .alias("impl")).collect()
    }
    assert got == {"worker_daemon.py:_gated_invalidate_caches"}
