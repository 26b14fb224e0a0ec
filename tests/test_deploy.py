"""Packaging for spark-submit --py-files deployment (the north rule's
deployment mode): the zip must be deterministic, complete, and — critically
— stable when the package itself is IMPORTED FROM a shipped zip, the state
every spark-submit --py-files driver runs in."""

import os
import subprocess
import sys
import zipfile


def test_package_zip_is_deterministic_and_complete():
    from crawl4ai_spark.deploy import package_zip

    p1 = package_zip()
    with open(p1, "rb") as fh:
        b1 = fh.read()
    p2 = package_zip()
    with open(p2, "rb") as fh:
        b2 = fh.read()
    assert b1 == b2  # rebuild is byte-identical (fixed timestamps, sorted)
    names = set(zipfile.ZipFile(p1).namelist())
    assert "crawl4ai_spark/__init__.py" in names
    assert "crawl4ai_spark/worker_daemon.py" in names  # daemon module ships
    assert "crawl4ai_spark/session.py" in names
    assert len(names) > 40


def test_package_zip_from_zipimport_returns_archive(tmp_path):
    """A driver launched via spark-submit --py-files imports crawl4ai_spark
    from the zip itself. package_zip() there must return the containing
    archive — walking the zipimport pseudo-path yields no files, and a
    naive rebuild would CLOBBER the live artifact with an empty zip,
    killing the worker daemon's PYTHONPATH import mid-job."""
    from crawl4ai_spark.deploy import package_zip

    src = package_zip()
    shipped = tmp_path / "shipped_pyfiles.zip"
    shipped.write_bytes(open(src, "rb").read())
    out = subprocess.run(
        [sys.executable, "-c",
         "from crawl4ai_spark.deploy import package_zip; print(package_zip())"],
        env=dict(os.environ, PYTHONPATH=str(shipped)),
        cwd=str(tmp_path),  # keep the checkout off sys.path[0]
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == str(shipped)  # the archive IS the artifact
    assert zipfile.ZipFile(shipped).namelist()  # and it was not clobbered


def test_default_cores_follow_cpu_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS, sessions size ``local[N]`` to the CPUs
    this process may run on, not to a fixed 32-core box."""
    from crawl4ai_spark.session import default_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
