"""Measurement from outside the engine: spans, process-tree CPU and RSS,
and per-span folds of Spark's event log.

Every span sets a Spark job group named ``<span>#<pass>`` around the
benchmark's call into one layer, in traced and untraced runs alike, so
both issue the same jobs. Only traced runs turn the event log on; the
fold below reads it after the session has stopped, when every event has
been flushed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: span names in report order; a workload runs a subset of them
SPANS = ("derive", "kapra", "naive", "cascade", "resume", "compress",
         "decompress", "result")

#: per-span metrics and their units, in report order
SPAN_FIELDS = {"wall_s": "s", "driver_s": "s", "jobs": "count",
               "tasks": "count", "max_task_s": "s", "exec_run_s": "s",
               "exec_cpu_s": "s", "gc_s": "s", "python_s": "s",
               "to_python_bytes": "bytes", "from_python_bytes": "bytes",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}

# Python SQL metrics, reported per task in the task-end accumulables
_PY_RUN = "time to run Python workers"  # ms
_PY_SENT = "data sent to Python workers"  # bytes
_PY_RECV = "data returned from Python workers"  # bytes


# ---------------------------------------------------------------------------
# /proc: CPU and peak RSS of this process and every descendant
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in ticks) for every
    readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces and parentheses: split after
        # the last ')'
        fields = raw[raw.rindex(b")") + 2:].split()
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the driver, the JVM and the Python workers. A reaped child's time is
    in its parent's cutime/cstime, so nothing is counted twice."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *descendants(me)]
               if p in table) / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its live descendants."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    pass_idx: int
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    wall_s: float

    @property
    def group(self) -> str:
        return f"{self.name}#{self.pass_idx}"


class Spans:
    """Records spans and tags the Spark jobs issued inside each one."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, pass_idx: int, name: str):
        group = f"{name}#{pass_idx}"
        self.sc.setJobGroup(group, name)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(pass_idx, name, start, time.time(), wall))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, in
    order. Handles the rolling layout (eventlog_v2_*/events_<n>_*) and
    the single-file one."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if files:
        files.sort(key=lambda p: int(
            re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    else:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p) and not p.endswith(".crc")]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _zero() -> dict:
    return {"tasks": 0, "max_task_s": 0.0, "exec_run_s": 0.0,
            "exec_cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
            "to_python_bytes": 0, "from_python_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}


def fold_jobs(events: list[dict]) -> dict[int, dict]:
    """Fold task-end events by the job that ran them.

    Returns job_id -> {"group", "submit", "complete", **task metrics}:
    group is the job's ``spark.jobGroup.id`` (None outside any span) and
    submit/complete are epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1e3, "complete": None,
                **_zero()}
            for sid in e["Stage IDs"]:
                # a stage listed by several jobs runs under the first one
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["complete"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            j = jobs[stage_job[e["Stage ID"]]]
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            j["tasks"] += 1
            j["max_task_s"] = max(
                j["max_task_s"],
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
            j["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            j["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            j["shuffle_write_bytes"] += m.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name == _PY_RUN:
                    j["python_s"] += int(acc["Update"]) / 1e3
                elif name == _PY_SENT:
                    j["to_python_bytes"] += int(acc["Update"])
                elif name == _PY_RECV:
                    j["from_python_bytes"] += int(acc["Update"])
    return jobs


def span_report(spans: list[Span], jobs: dict[int, dict]) -> dict:
    """Metrics of each recorded span, keyed by its job group: the task
    metrics of its jobs, its job count, wall time, and driver time (span
    wall that none of the span's jobs covers)."""
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    out = {}
    for sp in spans:
        own = by_group.get(sp.group, [])
        r = _zero()
        for j in own:
            for k in r:
                r[k] = (max(r[k], j[k]) if k == "max_task_s"
                        else r[k] + j[k])
        covered = _union_len([
            (max(j["submit"], sp.start), min(j["complete"], sp.end))
            for j in own
            if j["complete"] is not None and j["complete"] > sp.start])
        r.update(jobs=len(own), wall_s=sp.wall_s,
                 driver_s=max(0.0, sp.wall_s - covered))
        out[sp.group] = r
    return out


def span_share(spans: list[Span], passes: set[int],
               jobs: dict[int, dict]) -> float:
    """Share of the executor run time of the jobs submitted during the
    given passes that falls in those passes' spans. A job with no span
    group counts as unattributed."""
    windows: dict[int, tuple[float, float]] = {}
    for sp in spans:
        if sp.pass_idx in passes:
            s, e = windows.get(sp.pass_idx, (sp.start, sp.end))
            windows[sp.pass_idx] = (min(s, sp.start), max(e, sp.end))
    groups = {sp.group for sp in spans if sp.pass_idx in passes}
    total = spanned = 0.0
    for j in jobs.values():
        if j["group"] in groups:
            spanned += j["exec_run_s"]
            total += j["exec_run_s"]
        elif any(a <= j["submit"] <= b for a, b in windows.values()):
            total += j["exec_run_s"]
    return spanned / total if total else 1.0


def per_layer_metrics(report: dict, timed: list[int]) -> dict:
    """Median over the timed passes of every span metric, 0 for spans the
    workload does not run, and the cold pass's (pass 0) Python and GC
    time."""
    out = {}
    for name in SPANS:
        rows = [report[f"{name}#{p}"] for p in timed
                if f"{name}#{p}" in report]
        for field in SPAN_FIELDS:
            out[f"{name}.{field}"] = (
                statistics.median(r[field] for r in rows) if rows else 0)
    cold_rows = [r for g, r in report.items() if g.endswith("#0")]
    out["cold.python_s"] = sum(r["python_s"] for r in cold_rows)
    out["cold.gc_s"] = sum(r["gc_s"] for r in cold_rows)
    return out
