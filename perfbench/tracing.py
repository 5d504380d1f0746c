"""Benchmark-side instrumentation: spans, process-tree RSS and Spark's
event log. Nothing here is imported by the program; spans are recorded
around the benchmark's own calls into each layer's public functions.

* :class:`Tracer` keeps spans (name, start, end, parent) in memory and
  tags every Spark job started inside a span with the span id through
  ``setJobGroup``; :meth:`Tracer.write` saves them at exit.
* :class:`RssSampler` samples the summed RSS of this process and all its
  descendants (driver, JVM, Python workers) from ``/proc``.
* :func:`read_event_log` parses Spark's JSON event log into per-job
  records (time, tasks, metrics), which become child spans of the span
  whose id is the job group, or of the streaming trigger whose batch id
  the job carries.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from typing import Dict, Iterable, List, Optional


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self._sc = None
        self.spans: List[Dict] = []
        self._stack: List[str] = []

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    def add(self, name: str, start: float, end: float, parent: Optional[str], **attrs) -> Dict:
        span = {"id": f"s{len(self.spans)}", "name": name, "parent": parent, "start": start, "end": end, **attrs}
        if self.enabled:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        span = self.add(name, time.time(), None, parent, **attrs)
        self._stack.append(span["id"])
        if self._sc is not None:
            self._sc.setJobGroup(span["id"], name)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    self._sc.setJobGroup(self._stack[-1], "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str, extra: Dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=1, default=str)


def process_children() -> Dict[int, List[int]]:
    """parent pid -> child pids, from ``/proc/<pid>/stat``."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while listing
        children.setdefault(ppid, []).append(int(entry))
    return children


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of ``root``
    and its live descendants. Steal time is not charged to processes, so
    on a shared host this moves far less than wall time."""
    children = process_children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS (MB) of this process tree, sampled every
    ``interval`` seconds on a daemon thread (``psutil`` is not needed)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> float:
        children = process_children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * self._page / 2**20

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self._tree_rss())
        return self.peak_mb


def _ms(value) -> float:
    return float(value or 0) / 1000.0


def read_event_log(log_dir: str) -> List[Dict]:
    """Per-job records from every event-log file under ``log_dir``:
    ``{id, start, end, group, batch_id, stages, tasks}`` where each task
    carries run/CPU/GC time, shuffle write, spill, output bytes and its
    stage, and ``stages`` maps stage id -> {name: value} of its SQL
    accumulables (per accumulator id, so a metric updated by several
    stages is not double-counted)."""
    jobs: Dict[int, Dict] = {}
    stage_job: Dict[int, int] = {}
    stage_accums: Dict[int, Dict[int, tuple]] = {}
    tasks: List[Dict] = []
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    props = event.get("Properties") or {}
                    jid = event["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "start": _ms(event["Submission Time"]),
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "batch_id": props.get("streaming.sql.batchId"),
                        "stages": {},
                        "tasks": [],
                    }
                    for sid in event.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if event["Job ID"] in jobs:
                        jobs[event["Job ID"]]["end"] = _ms(event["Completion Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = event["Stage Info"]
                    accums = stage_accums.setdefault(info["Stage ID"], {})
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name") or ""
                        if name.startswith("internal.") or acc.get("Value") is None:
                            continue
                        try:
                            accums[acc["ID"]] = (name, float(acc["Value"]))
                        except (TypeError, ValueError):
                            continue
                elif kind == "SparkListenerTaskEnd":
                    m = event.get("Task Metrics") or {}
                    info = event.get("Task Info") or {}
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": event["Stage ID"],
                            "duration": _ms(info.get("Finish Time", 0)) - _ms(info.get("Launch Time", 0)),
                            "run_s": _ms(m.get("Executor Run Time")),
                            "cpu_s": float(m.get("Executor CPU Time") or 0) / 1e9,
                            "gc_s": _ms(m.get("JVM GC Time")),
                            "shuffle_write": float(shuffle.get("Shuffle Bytes Written") or 0),
                            "spill": float(m.get("Memory Bytes Spilled") or 0) + float(m.get("Disk Bytes Spilled") or 0),
                            "written": float((m.get("Output Metrics") or {}).get("Bytes Written") or 0),
                        }
                    )
    for task in tasks:
        jid = stage_job.get(task["stage"])
        if jid in jobs:
            jobs[jid]["tasks"].append(task)
    for sid, accums in stage_accums.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            merged: Dict[str, float] = {}
            for name, value in accums.values():
                merged[name] = merged.get(name, 0.0) + value
            jobs[jid]["stages"][sid] = merged
    return sorted(jobs.values(), key=lambda j: j["start"])


def attach_jobs(tracer: Tracer, jobs: List[Dict], trigger_spans: Dict[str, str]) -> None:
    """Adds one child span per Spark job: parent is the span whose id is
    the job's group, or the trigger span of its streaming batch id."""
    ids = {s["id"] for s in tracer.spans}
    for job in jobs:
        parent = job["group"] if job["group"] in ids else trigger_spans.get(job["batch_id"])
        if parent is None:
            continue
        job["span"] = parent
        tracer.add(f"spark.job.{job['id']}", job["start"], job["end"] or job["start"], parent,
                   tasks=len(job["tasks"]))


def jobs_under(tracer: Tracer, span: Dict, jobs: List[Dict]) -> List[Dict]:
    """Jobs attributed to ``span`` or any of its descendant spans."""
    below = {span["id"]}
    for s in tracer.spans:  # spans are appended parent-first
        if s["parent"] in below:
            below.add(s["id"])
    return [j for j in jobs if j.get("span") in below]


def busy_union(jobs: Iterable[Dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    spans = sorted((max(j["start"], start), min(j["end"] or j["start"], end)) for j in jobs)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def job_totals(jobs: List[Dict]) -> Dict[str, float]:
    tasks = [t for j in jobs for t in j["tasks"]]
    return {
        "jobs": float(len(jobs)),
        "stages": float(len({t["stage"] for t in tasks})),
        "run_s": sum(t["run_s"] for t in tasks),
        "cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write": sum(t["shuffle_write"] for t in tasks),
        "spill": sum(t["spill"] for t in tasks),
        "written": sum(t["written"] for t in tasks),
    }


def accum(jobs: List[Dict], name: str) -> float:
    return sum(stage.get(name, 0.0) for j in jobs for stage in j["stages"].values())


def task_skew(jobs: List[Dict], marker: str) -> float:
    """max / median task duration over the stages that carry the SQL
    accumulable ``marker`` (the Python-exec stages)."""
    stages = {sid for j in jobs for sid, acc in j["stages"].items() if marker in acc}
    durations = [t["duration"] for j in jobs for t in j["tasks"] if t["stage"] in stages]
    if not durations:
        return 0.0
    return max(durations) / max(statistics.median(durations), 1e-6)
