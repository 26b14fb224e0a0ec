"""A steady crawl iteration runs a bounded number of Spark jobs.

Every job is a driver round trip: query-stage and broadcast jobs under
AQE, the count on the ranked slice, the fetch and discover collects, and
the snapshot writes the commit runs on its own threads. The count is read
from the DAG scheduler's job-id counter, which every thread's jobs
advance, so the commit threads' writes are counted too (a job group set on
the driver thread would miss them). The ceiling is the count measured
when this guard was written; a change that adds a job to the steady
iteration fails here.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from crawl4ai_spark.plans.crawl import CrawlConfig, CrawlRun
from crawl4ai_spark.sources.synthetic import build_robots

ITERATIONS = 4
# jobs per steady iteration (iterations 2 and 3) of the crawl below,
# measured on 4 local cores with Spark 4.1.2
STEADY_JOB_CEILING = 29


def _jobs_started(spark) -> int:
    """Jobs the DAG scheduler has numbered so far, from every thread. A
    py4j read: it starts no job."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_steady_iteration_job_ceiling(spark, pages):
    doc_id = F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("int")
    run = CrawlRun(
        spark, pages, build_robots(spark),
        pages.select("url").where(doc_id.between(200, 259)),
        tempfile.mkdtemp(prefix="c4ai_jobs_"),
        CrawlConfig(
            mode="bfs", max_pages=10**9, max_depth=30, bloom_min_seen=1,
            host_budget=1,
        ),
    )
    jobs = []
    for _ in range(ITERATIONS):
        before = _jobs_started(spark)
        s = run.run_iteration()
        assert not s["done"], s
        jobs.append(_jobs_started(spark) - before)
    steady = jobs[2:]
    assert all(n > 0 for n in jobs), jobs
    assert max(steady) <= STEADY_JOB_CEILING, jobs
