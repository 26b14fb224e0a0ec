"""Pre-warmed Python worker daemon (``spark.python.daemon.module``).

PySpark's Unix worker model forks task workers from a long-lived daemon
process. By default each forked worker pays the heavy imports (pandas,
pyarrow, numpy, and this package's HTML engine) on its FIRST Arrow batch —
with 32-64 workers spawning for the first UDF stage, that import storm is
the bulk of a cold extract job's wall time. Importing the hot modules HERE,
before ``pyspark.daemon.manager()`` starts forking, makes every forked
worker inherit them already-initialized via copy-on-write: a fork costs
~1 ms instead of ~0.5 s of imports.

Every import is best-effort: if the package zip isn't on the daemon's
PYTHONPATH (it is shipped per-task via addPyFile and only guaranteed
inside the worker loop), the worker still imports lazily as before —
correctness never depends on the preload. ``session.get_spark`` exports
the package root on PYTHONPATH before the JVM launches so the preload
normally succeeds in both driver-local and spark-submit deployments.

Per-task zip re-read. At the start of EVERY task, a worker runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Up to CPython 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, eagerly, and a worker holds one importer per zip path
entry it has searched, over ``pyspark.zip`` (1.3k entries) and the py4j
zip. That re-read was most of a small task's fixed cost: on a 4-core box
a 64-task trivial Arrow UDF stage took ~2.5 s with it and ~1.2 s
without. ``_install_zip_gate`` replaces the method, before the fork,
with one that re-reads only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from the stamp taken at that importer's last read, and
falls through to the stdlib re-read when ``stat`` fails. A zip that
really changed (new ``addPyFile`` content) is still re-read, so import
results do not change. An importer starts with no stamp, so each forked
worker pays one re-read per importer on its first task; re-reading
eagerly in the daemon instead made session set-up slower.

The gate is inert where the stdlib is already lazy: CPython 3.13's
``zipimporter`` defers the read to ``_get_files`` and its
``invalidate_caches`` only drops the cache, so nothing is installed there.
"""

from __future__ import annotations

import os
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _gated_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive's stamp is the one seen at this importer's last
    read. The stamp is taken BEFORE the read, so a write racing the read
    leaves a stale stamp and forces one more re-read, never one fewer."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except (OSError, ValueError):
        stamp = None  # the stdlib re-read decides what a missing zip means
    if stamp is not None and getattr(self, "_c4ai_stamp", None) == stamp:
        return
    _STDLIB_INVALIDATE(self)
    self._c4ai_stamp = stamp


def _install_zip_gate() -> None:
    # only where the stdlib re-reads eagerly: a lazy zipimporter (3.13+)
    # defers the read to _get_files, and the gate would save nothing
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches


def _preload() -> None:
    import importlib

    for mod in (
        "numpy",
        "pandas",
        "pyarrow",
        "pyspark.sql.pandas.serializers",
        "crawl4ai_spark.html.parser",
        "crawl4ai_spark.html.scrape",
        "crawl4ai_spark.html.markdown",
        "crawl4ai_spark.html.pruning",
        "crawl4ai_spark.plans.extract",
        "crawl4ai_spark.functions.urlnorm",
    ):
        try:
            importlib.import_module(mod)
        except Exception:
            pass  # worker falls back to lazy import — preload is best-effort


if __name__ == "__main__":
    _install_zip_gate()
    _preload()
    from pyspark.daemon import manager

    manager()
