"""tools/stage_report.py on a hand-written three-job event log."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import stage_report  # noqa: E402


def _task(stage: int, run_ms: int, py_ms: int | None = None) -> dict:
    acc = [] if py_ms is None else [
        {"Name": stage_report.PY_TIME, "Update": str(py_ms)}
    ]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms}}


def _job(jid: int, t: float, stages: list[int], group: str | None) -> dict:
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": int(t * 1000), "Stage IDs": stages,
            "Properties": props}


def _stage(sid: int, name: str) -> dict:
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Name": name}}


def _write(tmp_path) -> str:
    events = [
        # job 0: grouped to span1 (a child of span0), one Python stage
        _job(0, 100.5, [0], "span1"), _stage(0, "count at crawl.py"),
        _task(0, 40, 30), _task(0, 60, 50),
        # job 1: grouped to span1; stage 1 ran, stage 0 is reused (skipped)
        _job(1, 101.0, [0, 1], "span1"), _stage(1, "collect at crawl.py"),
        _task(1, 7),
        # job 2: no group (thread pool), submitted inside span1's window
        _job(2, 101.5, [2], None), _stage(2, "save at snapshots.py"),
        _task(2, 5), _task(2, 5), _task(2, 5),
    ]
    work = tmp_path / "work"
    (work / "eventlog").mkdir(parents=True)
    with open(work / "eventlog" / "local-1", "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    spans = [
        {"id": 0, "name": "crawl.pass", "parent": None, "traced": True,
         "start": 100.0, "end": 103.0, "counts": {}},
        {"id": 1, "name": "crawl.iter", "parent": 0, "traced": True,
         "start": 100.2, "end": 102.0, "counts": {}},
    ]
    with open(work / "spans.json", "w") as f:
        json.dump(spans, f)
    return str(work)


def test_stage_report_attributes_every_task_once(tmp_path, capsys):
    work = _write(tmp_path)
    jobs, stages = stage_report.read_event_log(
        os.path.join(work, "eventlog", "local-1")
    )
    assert stages[0] == {"name": "count at crawl.py", "tasks": 2,
                         "run_ms": 100, "py_ms": 80}
    assert stages[2]["tasks"] == 3 and stages[2]["py_ms"] == 0
    with open(os.path.join(work, "spans.json")) as f:
        spans = json.load(f)
    assert stage_report.assign_jobs(jobs, spans) == {
        0: (1, "group"), 1: (1, "group"), 2: (1, "window"),
    }

    assert stage_report.main(["--work", work]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith("span0 crawl.pass")
    assert "jobs 0" in out[0]
    assert out[1].startswith("  span1 crawl.iter")
    # the iteration holds all three jobs: 2 + 1 + 3 tasks, the reused
    # stage 0 counted once
    assert "jobs 3" in out[1]
    assert "tasks    6  run     122 ms  py      80 ms" in out[1]
    job1 = [ln for ln in out if ln.strip().startswith("job 1 ")]
    assert job1 and "tasks    1  run       7 ms" in job1[0]
    assert any("stage 2" in ln and "save at snapshots.py" in ln for ln in out)
    assert any(ln.strip().startswith("job 2 ") and "window" in ln for ln in out)

    assert stage_report.main(["--work", work, "--span", "crawl.iter"]) == 0
    only = capsys.readouterr().out.splitlines()
    assert only[0].startswith("  span1 crawl.iter")
    assert not any("crawl.pass" in ln for ln in only)


def test_stage_report_needs_a_traced_run(tmp_path, capsys):
    assert stage_report.main(["--work", str(tmp_path)]) == 1
    assert "--trace 1" in capsys.readouterr().err
