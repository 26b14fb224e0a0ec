"""Shared machinery of the benchmark: work directory, Spark session,
host facts, peak-RSS sampling, spans with Spark job groups, event-log
attribution and the zero-work guards.

Nothing here imports ``crawl4ai_spark`` at module level, so the event-log
reader and the guards can be tested without a Spark session.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def prepare_workdir() -> str:
    """Fresh scratch directory inside the checkout. Every temp file Spark,
    the JVM and Python write goes under it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog", "jtmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return WORK


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(traced: bool):
    """``local[cores]`` session with the library's own settings, except that
    every scratch path lies inside the work directory; ``traced`` adds the
    uncompressed, non-rolling event log."""
    from crawl4ai_spark.session import get_spark

    n = cores()
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        # the library's own java options, plus the JVM's temp dir
        "spark.driver.extraJavaOptions": (
            "-Djava.net.preferIPv4Stack=true "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'jtmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", cores=n, shuffle_partitions=max(8, 2 * n),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    wait_for_warmup()
    return spark


def wait_for_warmup(timeout: float = 60.0) -> None:
    """``get_spark`` warms the Python workers from a background thread.
    Its jobs carry no job group; waiting here keeps them out of every
    measured pass and every span."""
    for t in threading.enumerate():
        if t.name == "c4ai-worker-warmup":
            t.join(timeout)


def stop_session(spark) -> None:
    spark.stop()


# -- host facts ----------------------------------------------------------------


def source_digest() -> str:
    """sha256 over the library's sources: the checkout a run measured is
    not a git repository, so this stands in for the commit."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "crawl4ai_spark", "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def host_facts(seed: int, workload: str, sizes: dict) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "sizes": sizes,
        "cores": cores(),
        "loadavg_before": list(os.getloadavg()),
        "git_sha": git_sha(),
        "source_sha": source_digest(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


# -- peak RSS ------------------------------------------------------------------


def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants (the JVM it launched,
    the JVM's Python workers), from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss(root_pid: int) -> dict[str, int]:
    """RSS bytes of the process tree under ``root_pid`` by command name."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds, user plus system, of the process tree under
    ``root_pid``. Each process counts its reaped children too, so a
    Python worker that exits mid-pass still counts. Time the hypervisor
    stole from the CPUs is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def steal_s() -> float:
    """Seconds of CPU time stolen by the hypervisor, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def shutdown_jvm(timeout: float = 30.0) -> None:
    """End the JVM PySpark launched and wait until it and every process it
    started (the Python workers) have exited."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = [p for p in _process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    alive = started
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in started if _state(p) not in (None, "Z")]
    for p in alive:
        os.kill(p, signal.SIGKILL)


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return None


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.breakdown: dict[str, int] = {}
        self.running = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss",
                                        daemon=True)

    def _sample(self) -> None:
        by_comm = _tree_rss(os.getpid())
        total = sum(by_comm.values())
        if total > self.peak:
            self.peak, self.breakdown = total, by_comm

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.running = True
        self._thread.start()

    def stop(self) -> None:
        if self.running:
            self.running = False
            self._stop.set()
            self._thread.join()
            self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- spans ---------------------------------------------------------------------


class Tracer:
    """Spans recorded around the benchmark's calls into each layer. With a
    Spark context attached, each span also sets a job group named after
    it, so the event log can attribute task metrics to the span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "traced": self.sc is not None, "start": time.time(), "end": None,
               "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(f"span{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    top = self._stack[-1]
                    self.sc.setJobGroup(f"span{top['id']}", top["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


# -- event log -----------------------------------------------------------------

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
METRIC_KEYS = ("task_ms", "py_worker_ms", "py_bytes_sent", "shuffle_read_B",
               "shuffle_write_B", "spill_B", "tasks", "jobs")


def _zero() -> dict:
    return {k: 0 for k in METRIC_KEYS}


def event_log_path() -> str:
    files = [p for p in glob.glob(os.path.join(WORK, "eventlog", "*"))
             if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    return files[0]


def read_event_log(path: str) -> tuple[dict, dict]:
    """(jobs, tasks) from an uncompressed JSON-lines event log.

    jobs:  job id -> {"group", "submitted" (s), "stages"}
    tasks: list of per-task metric dicts keyed by METRIC_KEYS plus "stage"
    """
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submitted": ev["Submission Time"] / 1000.0,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = {a["Name"]: a.get("Update")
                       for a in ev["Task Info"].get("Accumulables", [])}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "task_ms": m.get("Executor Run Time", 0),
                    # SQL timing metric, in ms
                    "py_worker_ms": int(acc.get(PY_TIME) or 0),
                    "py_bytes_sent": int(acc.get(PY_SENT) or 0),
                    "shuffle_read_B": rd.get("Local Bytes Read", 0)
                    + rd.get("Remote Bytes Read", 0),
                    "shuffle_write_B": wr.get("Shuffle Bytes Written", 0),
                    "spill_B": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "tasks": 1,
                })
    return jobs, tasks


def attribute(jobs: dict, tasks: list, spans: list[dict]) -> dict:
    """Task metrics per span id, plus the unattributed remainder.

    A job belongs to the span whose job group it carries. A job with no
    group (one launched from a thread the caller's group does not reach,
    such as a thread pool inside the library) is attributed to the
    innermost span whose wall-clock window contains its submission, and
    its task time is also counted under ``window_task_ms``. Jobs outside
    every span land in ``unattributed``. Every task is counted exactly
    once: sum over spans (self metrics) + unattributed == totals."""
    by_id = {f"span{s['id']}": s for s in spans}
    stage_owner: dict[int, tuple[str | None, str]] = {}
    jobs_per_owner: dict[str | None, int] = {}
    for jid in sorted(jobs):
        job = jobs[jid]
        owner, how = None, "none"
        if job["group"] in by_id:
            owner, how = job["group"], "group"
        else:
            inside = [s for s in spans
                      if s["start"] <= job["submitted"] <= (s["end"] or 1e18)]
            if inside:
                owner, how = f"span{max(inside, key=lambda s: s['start'])['id']}", "window"
        jobs_per_owner[owner] = jobs_per_owner.get(owner, 0) + 1
        for st in job["stages"]:
            stage_owner.setdefault(st, (owner, how))
    per: dict[str | None, dict] = {}
    window_ms = 0
    total = _zero()
    for t in tasks:
        owner, how = stage_owner.get(t["stage"], (None, "none"))
        acc = per.setdefault(owner, _zero())
        for k in METRIC_KEYS:
            if k != "jobs":
                acc[k] += t[k]
                total[k] += t[k]
        if how == "window":
            window_ms += t["task_ms"]
    for owner, n in jobs_per_owner.items():
        per.setdefault(owner, _zero())["jobs"] = n
        total["jobs"] += n
    return {
        "self": {k: v for k, v in per.items() if k is not None},
        "unattributed": per.get(None, _zero()),
        "total": total,
        "window_task_ms": window_ms,
    }


def inclusive(attr: dict, spans: list[dict], span_id: int) -> dict:
    """A span's metrics including those of its descendant spans."""
    kids: dict[int | None, list[int]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = _zero()
    todo = [span_id]
    while todo:
        sid = todo.pop()
        todo.extend(kids.get(sid, ()))
        for k, v in attr["self"].get(f"span{sid}", {}).items():
            out[k] += v
    return out


def span_totals(attr: dict, spans: list[dict], name: str) -> dict:
    out = _zero()
    for s in spans:
        if s["name"] == name:
            for k, v in inclusive(attr, spans, s["id"]).items():
                out[k] += v
    return out


# -- zero-work guard -----------------------------------------------------------


def check_guards(attr: dict, spans: list[dict], guards: dict) -> list[str]:
    """``guards`` maps a span name to the counters that must be nonzero in
    every traced span of that name (Python-worker time for a UDF layer, shuffle
    bytes for a dedup layer). A span whose counter reads zero did no work
    in that layer — Catalyst pruned it — and the run must fail. A guarded
    name with no span at all fails too."""
    bad = []
    for name, counters in guards.items():
        matching = [s for s in spans if s["name"] == name and s["traced"]]
        if not matching:
            bad.append(f"{name}: no traced span recorded")
        for s in matching:
            got = inclusive(attr, spans, s["id"])
            bad += [f"{name} (span{s['id']}): {c} is zero" for c in counters if got[c] <= 0]
    return bad


# -- output digests ------------------------------------------------------------


def digest_rows(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    lines = sorted("\x1f".join("" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")
# A seed selects one of VARIANTS input sets; expected.json holds the output
# digest of every variant of every workload, so every seed is checked.
VARIANTS = 10


def variant(seed: int) -> int:
    return seed % VARIANTS


def load_expected() -> dict:
    try:
        with open(EXPECTED_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def record_expected(workload: str, var: int, digest: str) -> None:
    data = load_expected()
    data.setdefault(workload, {})[str(var)] = digest
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def check_digest(workload: str, var: int, digests: list[str],
                 expected: dict) -> list[str]:
    """Every pass must produce the same digest, and it must equal the one
    recorded for this input variant. A variant with no recorded digest
    fails: the check is never silently skipped."""
    bad = []
    if len(set(digests)) > 1:
        bad.append(f"{workload}: passes disagree: {sorted(set(digests))}")
    want = expected.get(workload, {}).get(str(var))
    if want is None:
        bad.append(f"{workload}: no digest recorded for variant {var} "
                   "(run perfbench/record.py)")
    elif digests and digests[0] != want:
        bad.append(f"{workload}: digest {digests[0]} != recorded {want}")
    return bad


def median(xs) -> float:
    return float(statistics.median(xs))


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)
