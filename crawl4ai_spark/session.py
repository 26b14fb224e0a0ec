"""SparkSession factory tuned for the crawl workload.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing + skew-join splitting handles the hot-host skew
  on the fetch join; the per-host politeness window additionally salts (see
  operators/politeness.py) because AQE cannot split a single window partition.
- shuffle.partitions defaults to cores*2 locally; on a real cluster this is
  set by spark-submit conf (target ~128 MB/post-shuffle partition via AQE
  advisoryPartitionSizeInBytes).
- Arrow enabled: every Python-side transform is an Arrow-batched pandas UDF.
- Codegen cache: ``spark.sql.codegen.cache.maxEntries`` = 1024, not Spark's
  default of 100. A crawl iteration needs about 155 distinct generated
  classes and a ``curate`` pass about 270, so at 100 the LRU evicts every
  class before the next iteration or pass asks for it again. Measured on a
  4-core host with the benchmark-shaped crawl: every steady iteration
  Janino-compiled 131-133 classes (about 1.0-1.2 s, plus JIT warm-up of
  the fresh classes) at 100, and 0 at 1024 once the per-iteration scalars
  stopped being inlined as literals (plans/crawl.py); a steady ``curate``
  pass went from 264-270 compiles to 22. The setting is static and JVM-wide:
  Spark sizes its one codegen cache when the JVM first generates code, so
  it does nothing if another session already generated code in this JVM.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _warehouse_dir() -> str:
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    return os.path.join(tempfile.gettempdir(), f"c4ai_spark_warehouse_{uid}")


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "crawl4ai_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores * 2)
    # the pre-warmed worker daemon (worker_daemon.py) must be importable in
    # the daemon process, which only sees PYTHONPATH (addPyFile zips are
    # wired up later, inside the worker loop) — export the package root
    # BEFORE the JVM launches. On a cluster the same is done with
    # spark.executorEnv.PYTHONPATH + --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        .config("spark.python.daemon.module", "crawl4ai_spark.worker_daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.sql.session.timeZone", "UTC")
        # static, JVM-wide, read at the first code generation: see the
        # module docstring for the measured counts behind 1024
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # bucketed-table writes (datapipe.dedup.write_minhash_tables) land
        # in the warehouse; keep it out of the source tree. Namespaced per
        # UID (two users on one host must not rmtree each other's bucketed
        # tables via _drop_table) and overridable via SPARK_GRAFT_WAREHOUSE
        # for side-by-side runs of the SAME user (e.g. two CI jobs) —
        # deliberately NOT a per-process mkdtemp: the bucketed MinHash
        # tables exist to be amortized across sessions.
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers (--py-files equivalent);
    # required whenever the driver process isn't rooted in the repo dir.
    from crawl4ai_spark.deploy import ensure_workers_can_import

    ensure_workers_can_import(spark)
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Start the pre-warmed worker daemon (worker_daemon.py) in the
    BACKGROUND while the caller is still building its inputs. The daemon's
    preload (pyspark serializers + pandas + pyarrow + the HTML engine) is a
    few serial seconds; paying it concurrently with session setup means the
    first real UDF stage only pays per-worker forks (~1 ms each) instead of
    32 parallel cold imports. Best-effort: any failure falls back to lazy
    worker startup."""
    import threading

    def _go() -> None:
        try:
            import pandas as pd
            from pyspark.sql import functions as F

            @F.pandas_udf("long")
            def _ident(s: pd.Series) -> pd.Series:
                return s

            spark.range(1).select(_ident("id")).collect()
            # First shuffle + first broadcast join each pay one-time plan
            # compilation / exchange codegen (~2-3 s on a cold JVM). A
            # long-lived cluster app pays this once per session, not per
            # job — trigger both here so the first real iteration doesn't.
            spark.range(64).repartition(2, "id").count()
            spark.range(16).join(
                F.broadcast(spark.range(8)), "id"
            ).count()
            # createDataFrame(local list) goes through the pickled-RDD
            # scan path (PythonRDD), which has its own first-job cost
            spark.createDataFrame(
                spark.sparkContext.parallelize([("w",)], 1), "x string"
            ).count()
        except Exception:
            pass

    threading.Thread(target=_go, name="c4ai-worker-warmup", daemon=True).start()
