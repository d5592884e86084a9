"""Trace plumbing: spans recorded around calls into the program's
modules, Spark event-log metrics attributed to those spans, and the
process-tree RSS sampler.

A span is (id, name, parent, start, end), kept in memory and written
out when the run ends. While a span is open every Spark job this
thread submits carries the description ``span:<id>:<name>``
(``SparkContext.setJobDescription``), so the event log's stage and
task metrics can be summed per span afterwards, the way
``tools/stage_profile.py`` sums them per query.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_mb", "spill_mb",
)


class Tracer:
    """Span recorder. Disabled, ``span`` records nothing and leaves
    job descriptions alone, so untraced passes run exactly the program's
    own calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "wall_start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc:
            self.sc.setJobDescription(f"span:{rec['id']}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if self.sc:
                self.sc.setJobDescription(prev)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, span_id: int) -> set[int]:
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(c["id"] for c in self.children(sid))
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            if cur_end is None or c["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start"], c["end"]
            else:
                cur_end = max(cur_end, c["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span["end"] - span["start"]) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [dict(s, self_s=self.self_time(s)) for s in self.spans if s["end"] is not None], fh
            )


def _span_id(description: str | None) -> int | None:
    if not description or not description.startswith("span:"):
        return None
    return int(description.split(":", 2)[1])


class EventLog:
    """Stage and task metrics from Spark event-log files, keyed by the
    span id in each job's description. Jobs that Spark submits from its
    own threads (a streaming query's micro-batches) carry Spark's
    description instead; they go to the innermost span open when they
    were submitted."""

    def __init__(self, log_dir: str, tracer: Tracer):
        self.tracer = tracer
        self.stage_span: dict[tuple, int | None] = {}
        self.job_span: list[int | None] = []
        self.tasks: list[dict] = []
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _owner(self, props: dict | None, submitted_ms: int | None) -> int | None:
        sid = _span_id((props or {}).get("spark.job.description"))
        if sid is not None or submitted_ms is None:
            return sid
        t = submitted_ms / 1e3
        open_spans = [s for s in self.tracer.spans
                      if s.get("wall_end") and s["wall_start"] <= t <= s["wall_end"]]
        return max(open_spans, key=lambda s: s["wall_start"])["id"] if open_spans else None

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.job_span.append(self._owner(ev.get("Properties"), ev.get("Submission Time")))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            self.stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = self._owner(
                ev.get("Properties"), info.get("Submission Time"))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.append({
                "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "fetch_wait_s": (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3,
                "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6,
                "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
            })

    def summary(self, span_ids: set[int]) -> dict:
        """Totals over every job, stage and task of the given spans."""
        stages = {k for k, sid in self.stage_span.items() if sid in span_ids}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        out = {
            "jobs": sum(1 for sid in self.job_span if sid in span_ids),
            "stages": len(stages),
            "tasks": len(tasks),
        }
        for f in ("cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_mb", "spill_mb", "run_s"):
            out[f] = sum(t[f] for t in tasks)
        # the stage doing most of the span's work: its task-time skew
        by_stage: dict[tuple, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        if by_stage:
            heavy = max(by_stage.values(), key=sum)
            med = statistics.median(heavy)
            out["task_skew"] = max(heavy) / med if med > 0 else 1.0
        else:
            out["task_skew"] = 0.0
        return out


def _tree_rss_bytes(root_pid: int) -> int:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields follow the last ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(p for p, pp in parent.items() if pp == pid and p not in tree)
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process and all its descendants (the Spark JVM
    and its Python workers), sampled from /proc in a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
