"""Per-span job and stage breakdown of a traced benchmark run.

A traced run (``python3 perfbench/run.py --workload crawl --seed 1
--seconds 10 --trace 1``) leaves an uncompressed Spark event log and the
benchmark's spans in ``.perfbench_work/``. This script reads both and
prints, for each span, every job attributed to it and each of that job's
stages, with task count, executor run time and Python-worker time — the
breakdown that shows which stage of a crawl iteration runs how many
tasks, and for how long.

A job belongs to the span whose job group it carries (``span<id>``). A
job without a group (launched from a library thread pool, such as the
crawl's concurrent snapshot writes) goes to the innermost span whose
wall-clock window contains its submission and is marked ``window``. A
stage that several jobs list (a reused shuffle) is counted under the
first job only, so every task is counted once.

Usage: python3 tools/stage_report.py [--work DIR] [--span NAME]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

PY_TIME = "time to run Python workers"


def read_event_log(path: str) -> tuple[dict, dict]:
    """(jobs, stages) from a JSON-lines event log.

    jobs:   job id -> {"group", "submitted" (s), "stages"}
    stages: stage id -> {"name", "tasks", "run_ms", "py_ms"}
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid, {"name": "", "tasks": 0, "run_ms": 0, "py_ms": 0}
        )

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
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                stage(info["Stage ID"])["name"] = info.get("Stage Name", "")
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                acc = {a["Name"]: a.get("Update")
                       for a in ev["Task Info"].get("Accumulables", [])}
                st["tasks"] += 1
                st["run_ms"] += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                st["py_ms"] += int(acc.get(PY_TIME) or 0)
    return jobs, stages


def assign_jobs(jobs: dict, spans: list[dict]) -> dict[int, tuple[int | None, str]]:
    """job id -> (span id or None, "group" | "window" | "none")."""
    by_group = {f"span{s['id']}": s["id"] for s in spans}
    out = {}
    for jid, job in jobs.items():
        if job["group"] in by_group:
            out[jid] = (by_group[job["group"]], "group")
            continue
        inside = [s for s in spans
                  if s["start"] <= job["submitted"] <= (s["end"] or float("inf"))]
        if inside:
            out[jid] = (max(inside, key=lambda s: s["start"])["id"], "window")
        else:
            out[jid] = (None, "none")
    return out


def _totals(rows: list[dict]) -> dict:
    return {k: sum(r[k] for r in rows) for k in ("tasks", "run_ms", "py_ms")}


def _fmt(t: dict) -> str:
    return f"tasks {t['tasks']:>4}  run {t['run_ms']:>7} ms  py {t['py_ms']:>7} ms"


def report(jobs: dict, stages: dict, spans: list[dict], name: str | None = None) -> list[str]:
    """Report lines: one block per span (nested spans indented under
    their parent), one line per job and per non-empty stage."""
    owner = assign_jobs(jobs, spans)
    counted: set[int] = set()
    job_stages: dict[int, list[int]] = {}
    for jid in sorted(jobs):
        mine = [s for s in jobs[jid]["stages"] if s not in counted and s in stages]
        counted.update(mine)
        job_stages[jid] = mine
    depth: dict[int, int] = {}
    for s in spans:
        depth[s["id"]] = 0 if s["parent"] is None else depth.get(s["parent"], 0) + 1

    lines = []
    for s in spans:
        if name is not None and s["name"] != name:
            continue
        pad = "  " * depth[s["id"]]
        span_jobs = sorted(j for j, (sid, _) in owner.items() if sid == s["id"])
        rows = [stages[st] for j in span_jobs for st in job_stages[j]]
        wall = (s["end"] or s["start"]) - s["start"]
        lines.append(f"{pad}span{s['id']} {s['name']}  {wall:.2f} s  "
                     f"jobs {len(span_jobs)}  {_fmt(_totals(rows))}")
        for j in span_jobs:
            j_rows = [stages[st] for st in job_stages[j]]
            lines.append(f"{pad}  job {j:<5} {owner[j][1]:<6}  {_fmt(_totals(j_rows))}")
            for st in job_stages[j]:
                if stages[st]["tasks"]:
                    lines.append(f"{pad}    stage {st:<5} {_fmt(stages[st])}  "
                                 f"{stages[st]['name'][:60]}")
    loose = [j for j, (sid, _) in owner.items() if sid is None]
    if name is None and loose:
        rows = [stages[st] for j in loose for st in job_stages[j]]
        lines.append(f"outside every span  jobs {len(loose)}  {_fmt(_totals(rows))}")
    return lines


def main(argv: list[str] | None = None) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--work", default=os.path.join(root, ".perfbench_work"),
                    help="directory holding eventlog/ and spans.json")
    ap.add_argument("--span", default=None, help="only spans with this name")
    args = ap.parse_args(argv)
    logs = [p for p in glob.glob(os.path.join(args.work, "eventlog", "*"))
            if os.path.isfile(p)]
    spans_path = os.path.join(args.work, "spans.json")
    if len(logs) != 1 or not os.path.isfile(spans_path):
        print(f"stage_report: need one event log and spans.json under {args.work} "
              "(run perfbench/run.py with --trace 1 first)", file=sys.stderr)
        return 1
    with open(spans_path) as f:
        spans = json.load(f)
    jobs, stages = read_event_log(logs[0])
    print("\n".join(report(jobs, stages, spans, args.span)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
