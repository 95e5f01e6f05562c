"""The traced mode: spans recorded around the calls into each layer, and
Spark's own counts read back from its event log.

Spans stay in memory (`Tracer`) and are written out when the run ends. The
merge span comes from `TracedTable`, a delegating wrapper the benchmark hands
to `run_cdc_pipeline` in place of the table (the pipeline only calls
`table.merge`); the rename protocol's commit span comes from
`TracedCommitter`, swapped in for `UpsertTable.committer`. Spans inside the
program (the phases of one merge) are not recorded here.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end (epoch ms), parent, run id."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time() * 1000, "end": None,
               "parent": parent, "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time() * 1000

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, idx: int) -> float:
        """A span's duration minus the part its child spans cover."""
        s = self.spans[idx]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == idx
        )
        return (s["end"] - s["start"]) - union_ms(kids, s["start"], s["end"])

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [
            {**s, "id": i, "self_ms": self.self_ms(i)} for i, s in enumerate(self.spans)
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "metrics": metrics, "spans": spans}, fh, indent=1)


class NullTracer:
    """Tracing off: the same calls, no records."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


class TracedTable:
    """Delegates to an upsert table; times each `merge` call."""

    def __init__(self, table, tracer: Tracer) -> None:
        self._table = table
        self._tracer = tracer

    def merge(self, batch, delete_col=None):
        with self._tracer.span("merge"):
            return self._table.merge(batch, delete_col=delete_col)

    def __getattr__(self, name):
        return getattr(self._table, name)


class TracedCommitter:
    """Delegates to `UpsertTable.committer`; times each `commit`."""

    def __init__(self, committer, tracer: Tracer) -> None:
        self._committer = committer
        self._tracer = tracer

    def commit(self, staging, staged, emptied):
        with self._tracer.span("commit"):
            return self._committer.commit(staging, staged, emptied)

    def __getattr__(self, name):
        return getattr(self._committer, name)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark's event log ---------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4.1 defaults to a zstd-compressed rolling directory, which
    # Python cannot read without extra packages
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class EventLog:
    """Jobs, tasks and SQL scan metrics from a finished application's log."""

    def __init__(self, log_dir: str) -> None:
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
        self.jobs: dict[int, dict] = {}  # id -> {start, end, stages}
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        scan_files: set[int] = set()  # accumulator ids of "number of files read"
        scan_rows: set[int] = set()  # ... of a scan's "number of output rows"
        exec_time: dict[int, float] = {}
        driver_updates: list[tuple[int, int, int]] = []  # (execution, acc id, value)
        task_accums: list[tuple[int, int, int]] = []  # (stage, acc id, update)
        with open(os.path.join(log_dir, names[0]), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None, "tasks": []}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    self.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "start": info["Launch Time"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "written": m.get("Output Metrics", {}).get("Records Written", 0),
                        }
                    )
                    for acc in info.get("Accumulables", []):
                        if isinstance(acc.get("Update"), (int, str)) and str(acc["Update"]).lstrip("-").isdigit():
                            task_accums.append((ev["Stage ID"], acc["ID"], int(acc["Update"])))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    if "time" in ev:
                        exec_time[ev["executionId"]] = ev["time"]
                    _scan_metric_ids(ev["sparkPlanInfo"], scan_files, scan_rows)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        driver_updates.append((ev["executionId"], acc_id, value))
        for t in self.tasks:
            job = stage_job.get(t["stage"])
            if job is not None:
                self.jobs[job]["tasks"].append(t)
        self._files_read = [
            (exec_time.get(e), v) for e, a, v in driver_updates if a in scan_files
        ]
        stage_start = {}
        for t in self.tasks:
            stage_start.setdefault(t["stage"], t["start"])
        self._rows_scanned = [
            (stage_start.get(s), v) for s, a, v in task_accums if a in scan_rows
        ]

    def jobs_in(self, windows: list[tuple[float, float]]) -> list[dict]:
        return [
            j for j in self.jobs.values()
            if any(lo <= j["start"] <= hi for lo, hi in windows)
        ]

    def phase(self, windows: list[tuple[float, float]]) -> dict:
        """Engine totals over the jobs submitted inside `windows`."""
        jobs = self.jobs_in(windows)
        tasks = [t for j in jobs for t in j["tasks"]]
        wall = sum(hi - lo for lo, hi in windows)
        busy = sum(
            union_ms([(j["start"], j["end"] or hi) for j in jobs], lo, hi)
            for lo, hi in windows
        )
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "records_written": sum(t["written"] for t in tasks),
            "driver_only_s": (wall - busy) / 1000,
        }

    def scans(self, windows: list[tuple[float, float]]) -> tuple[int, int]:
        """(files read, rows scanned) by scans that ran inside `windows`."""
        def inside(ts):
            return ts is not None and any(lo <= ts <= hi for lo, hi in windows)

        files = sum(v for ts, v in self._files_read if inside(ts))
        rows = sum(v for ts, v in self._rows_scanned if inside(ts))
        return files, rows


def _scan_metric_ids(node: dict, files: set[int], rows: set[int]) -> None:
    if node.get("nodeName", "").startswith("Scan"):
        for m in node.get("metrics", []):
            if m["name"] == "number of files read":
                files.add(m["accumulatorId"])
            elif m["name"] == "number of output rows":
                rows.add(m["accumulatorId"])
    for child in node.get("children", []):
        _scan_metric_ids(child, files, rows)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM plus this Python process, in MiB."""
    import resource

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024
