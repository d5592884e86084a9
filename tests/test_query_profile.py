"""tools/query_profile.py: the event-log summarizer on synthetic lines,
and one end-to-end run of the CLI."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import query_profile  # noqa: E402


def _job(job_id, stage_ids, desc=None, t=0):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t,
            "Stage IDs": stage_ids, "Properties": props}


def _stage(sid, name="count at x", t=(10, 30)):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": name,
                           "Submission Time": t[0], "Completion Time": t[1]}}


def _task(sid, run_ms=100, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
                             "JVM GC Time": 1,
                             "Shuffle Read Metrics": {"Fetch Wait Time": 2, "Local Bytes Read": 1e6,
                                                      "Remote Bytes Read": 0},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                             "Input Metrics": {"Bytes Read": 3e6}, "Disk Bytes Spilled": 0}}


def test_summarizer_attributes_jobs_by_description():
    events = [
        # warm-up and a --pre query: no description
        _job(0, [0]), _task(0), _stage(0),
        _job(1, [1]), _task(1, written=5e6), _stage(1),
        # rep 0 of q, then rep 1: a build-time job and an action job
        # that lists the --pre query's stage 1 again (reused, not rerun)
        _job(2, [2], "q rep0"), _task(2), _stage(2),
        _job(3, [3], "q rep1", t=100), _task(3, run_ms=40), _task(3, run_ms=60), _stage(3),
        _job(4, [1, 4, 5], "q rep1", t=200), _task(4, 300, written=2e6), _stage(4), _task(5), _stage(5),
        # another query whose name has q's as a suffix
        _job(5, [6], "xq rep1"), _task(6), _stage(6),
    ]
    got = query_profile.summarize_event_log(json.dumps(e) for e in events)
    assert set(got) == {"q rep0", "q rep1", "xq rep1"}
    s = got["q rep1"]
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 3, 4)
    assert [(j["job"], j["stages"], j["submitted_ms"]) for j in s["job_rows"]] == [
        (3, [3], 100), (4, [4, 5], 200)]
    assert s["task_ms"] == 500 and s["cpu_ms"] == 250 and s["gc_ms"] == 4
    assert s["fetch_wait_ms"] == 8 and s["shuffle_read_mb"] == 4 and s["input_mb"] == 12
    assert s["shuffle_write_mb"] == 2 and s["spill_mb"] == 0
    assert [r["stage"] for r in s["stage_rows"]] == ["4.0", "3.0", "5.0"]
    assert s["stage_rows"][0]["wall_ms"] == 20
    assert (got["q rep0"]["jobs"], got["q rep0"]["stages"]) == (1, 1)


SF = query_profile.WARMUP_DIR


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata not available")
def test_cli_emits_one_record(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF)
    out = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "query_profile.py"), "kg_triples", "--reps", "1",
         "--plans", str(tmp_path)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600, check=True)
    (line,) = out.stdout.splitlines()
    rec = json.loads(line)
    assert rec["query"] == "kg_triples" and rec["sink"] == "noop"
    assert len(rec["build_sec"]) == len(rec["action_sec"]) == 1
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
    for key in query_profile.TASK_METRICS + ("job_rows", "stage_rows"):
        assert key in rec
    assert {j["phase"] for j in rec["job_rows"]} <= {"build", "action"}
    assert any(j["phase"] == "action" for j in rec["job_rows"])
    assert "Physical Plan" in (tmp_path / "kg_triples.txt").read_text()
