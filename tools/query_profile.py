"""Per-query profiler: one JSON record per registry query.

One local session with the Spark event log on runs each named
``__spark_entry__.queries()`` entry. The record holds every rep's
``build_sec`` (building the DataFrame, its eager jobs included) and
``action_sec`` (a noop write, or ``count()``), and for the last rep the
job, stage and task counts, task / CPU / GC / fetch-wait ms, input /
shuffle / spill MB, job rows (``build`` or ``action``) and stage rows.

    python tools/query_profile.py                      # bench.HEADLINE, 2 reps
    python tools/query_profile.py kg_pagerank --count --pre kg_triples
    python tools/query_profile.py rel_suite --reps 0 --plans plans/r07

The sf dir is ``$SPARK_GRAFT_SF_DIR`` (as in bench.py). After one
warm-up, each rep builds a fresh ``queries()`` map, clears the caches,
runs the ``--pre`` queries in that map (bench.py's warm-cache state)
and then the query under the job description ``"<query> rep<i>"``;
jobs without it (warm-up, ``--pre``) count for no query.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

import bench  # noqa: E402  (HEADLINE and SF_DIR, the bench's own)

# the tiny scale factor next to the profiled one: bench.py's warm-up input
WARMUP_DIR = os.path.join(os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.001")

TASK_METRICS = ("task_ms", "cpu_ms", "gc_ms", "fetch_wait_ms",
                "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def _task_metrics(m: dict) -> dict:
    read = m.get("Shuffle Read Metrics") or {}
    return {
        "task_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "fetch_wait_ms": read.get("Fetch Wait Time", 0),
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6,
        "shuffle_read_mb": (read.get("Local Bytes Read", 0) + read.get("Remote Bytes Read", 0)) / 1e6,
        "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
    }


def summarize_event_log(lines) -> dict[str, dict]:
    """Spark event-log lines -> {job description: totals, job rows and
    stage rows}. A stage counts for the first job that lists it (a
    later job lists it again when it reuses the shuffle output, without
    running it); jobs with no description are left out."""
    jobs: dict[int, dict] = {}
    first_job: dict[int, int] = {}  # stage id -> first job listing it
    stages: dict[tuple, dict] = {}

    def stage(sid: int, attempt: int) -> dict:
        return stages.setdefault((sid, attempt), {
            "stage": f"{sid}.{attempt}", "name": "", "wall_ms": None, "tasks": 0,
            **dict.fromkeys(TASK_METRICS, 0)})

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "desc": (ev.get("Properties") or {}).get("spark.job.description"),
                "submitted_ms": ev.get("Submission Time"), "wall_ms": None}
            for sid in ev.get("Stage IDs", []):
                first_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            job = jobs[ev["Job ID"]]
            if job["submitted_ms"] and ev.get("Completion Time"):
                job["wall_ms"] = ev["Completion Time"] - job["submitted_ms"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            row = stage(info["Stage ID"], info["Stage Attempt ID"])
            row["name"] = info["Stage Name"].split("\n")[0][:90]
            sub, comp = info.get("Submission Time"), info.get("Completion Time")
            row["wall_ms"] = comp - sub if sub and comp else None
        elif kind == "SparkListenerTaskEnd":
            row = stage(ev["Stage ID"], ev["Stage Attempt ID"])
            row["tasks"] += 1
            for key, value in _task_metrics(ev.get("Task Metrics") or {}).items():
                row[key] += value

    ran = {sid for sid, _ in stages}
    out: dict[str, dict] = {}
    for job_id, job in sorted(jobs.items()):
        if job["desc"] is None:
            continue
        summary = out.setdefault(job["desc"], {
            "jobs": 0, "stages": 0, "tasks": 0, **dict.fromkeys(TASK_METRICS, 0),
            "job_rows": [], "stage_rows": []})
        summary["jobs"] += 1
        summary["job_rows"].append({
            "job": job_id, "submitted_ms": job["submitted_ms"], "wall_ms": job["wall_ms"],
            "stages": sorted(s for s, j in first_job.items() if j == job_id and s in ran)})
    for (sid, _), row in sorted(stages.items()):
        summary = out.get(jobs[first_job[sid]]["desc"]) if sid in first_job else None
        if summary is None:
            continue
        summary["stages"] += 1
        summary["tasks"] += row["tasks"]
        for key in TASK_METRICS:
            summary[key] += row[key]
        summary["stage_rows"].append(row)
    for summary in out.values():
        for row in (summary, *summary["stage_rows"]):
            for key in TASK_METRICS:
                row[key] = round(row[key], 3)
        summary["stage_rows"].sort(key=lambda r: -r["task_ms"])
    return out


def _write_plan(df, plan_dir: str, name: str) -> str:
    os.makedirs(plan_dir, exist_ok=True)
    path = os.path.join(plan_dir, f"{name}.txt")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(buf.getvalue())
    return path


def _run(spark, names, reps: int, pre, count: bool, plan_dir: str | None) -> dict:
    """Time every rep of every query; returns per query its timings,
    the wall clock (ms) its last action started at, and its plan path."""
    import __spark_entry__ as entrymod
    from jsonld_spark.operators import scratch

    sc = spark.sparkContext
    if reps:
        entrymod.queries()["kg_triples"](spark, WARMUP_DIR).count()
    runs = {}
    for name in names:
        run = runs[name] = {"build_sec": [], "action_sec": []}
        for rep in range(reps or 1):  # --reps 0: build once for the plan
            queries = entrymod.queries()
            spark.catalog.clearCache()
            scratch.release()
            for p in pre:
                queries[p](spark, bench.SF_DIR).count()
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = queries[name](spark, bench.SF_DIR)
            build_sec = time.time() - t0
            if plan_dir and rep == 0:
                run["plan"] = _write_plan(df, plan_dir, name)
            if reps:
                t0 = time.time()
                if count:
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                run["action_start_ms"] = t0 * 1e3
                run["build_sec"].append(round(build_sec, 3))
                run["action_sec"].append(round(time.time() - t0, 3))
            sc.setJobDescription(None)
    return runs


def profile(names, reps: int = 2, pre=(), count: bool = False,
            plan_dir: str | None = None) -> list[dict]:
    """One record per query in ``names`` (see the module docstring),
    from one session whose event log lives in a temporary directory
    for the length of the call. Needs a process with no SparkSession
    running: the event log is fixed when the SparkContext starts."""
    from jsonld_spark.plans.session import get_spark

    event_dir = tempfile.mkdtemp(prefix="query-profile-events-")
    try:
        spark = get_spark(app_name="query-profile", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        if spark.sparkContext.getConf().get("spark.eventLog.dir", None) != event_dir:
            raise RuntimeError("query_profile needs its own SparkSession; one is already running")
        cores = spark.sparkContext.defaultParallelism
        try:
            runs = _run(spark, names, reps, pre, count, plan_dir)
        finally:
            spark.stop()  # flushes the event log
        lines = []
        for entry in sorted(os.listdir(event_dir)):
            with open(os.path.join(event_dir, entry), encoding="utf-8") as fh:
                lines.extend(fh)
        summaries = summarize_event_log(lines)
    finally:
        shutil.rmtree(event_dir, ignore_errors=True)

    records = []
    for name in names:
        run = runs[name]
        rec = {"query": name, "sf": bench.SF_DIR.rstrip("/").rsplit("sf", 1)[-1], "cores": cores,
               "sink": "count" if count else "noop", "pre": list(pre), "reps": reps,
               "build_sec": run["build_sec"], "action_sec": run["action_sec"]}
        if "plan" in run:
            rec["plan"] = run["plan"]
        if reps:
            rec.update(summaries[f"{name} rep{reps - 1}"])
            for job in rec["job_rows"]:
                submitted = job.pop("submitted_ms")
                job["phase"] = "build" if submitted < run["action_start_ms"] else "action"
        records.append(rec)
    return records


def main(argv: list[str] | None = None) -> None:
    import __spark_entry__ as entrymod

    ap = argparse.ArgumentParser(description="One JSON record per registry query: "
                                             "build/action time and event-log metrics.")
    ap.add_argument("queries", nargs="*", default=bench.HEADLINE,
                    help="registry query names (default: bench.py's HEADLINE list)")
    ap.add_argument("--reps", type=int, default=2,
                    help="timed reps per query; the metrics are the last rep's; 0 = plans only")
    ap.add_argument("--pre", default="",
                    help="comma-separated queries run first in each rep's queries() map")
    ap.add_argument("--count", action="store_true",
                    help="time df.count() (bench.py's sink) instead of a noop write")
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's formatted plan to DIR/<query>.txt")
    args = ap.parse_args(argv)
    pre = [p for p in args.pre.split(",") if p]
    unknown = sorted(set(args.queries + pre) - set(entrymod.queries()))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    if args.reps < 0 or (args.reps == 0 and not args.plans):
        ap.error("--reps must be >= 1, or 0 with --plans DIR")
    for rec in profile(args.queries, reps=args.reps, pre=pre, count=args.count,
                       plan_dir=args.plans):
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
