"""Spans recorded around the benchmark's calls, and the Spark event-log fold.

`Spans` records name, start, end and parent for every call the benchmark
makes into the program; the end-to-end timings are read from the same
records.  With tracing on it also tags each call's Spark jobs with a job
group (`pb<span id>`), so `EventLogFold` can charge every job, task and
SQL-plan metric of the event log to the span that caused it.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    def __init__(self, sc=None):
        self.items: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # each thread nests its own spans
        self.sc = sc  # SparkContext to tag job groups on; None = tracing off

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.items)
            rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None, **attrs}
            self.items.append(rec)
        stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setJobGroup("pb-none", "untraced")
                else:
                    self.sc.setJobGroup(f"pb{parent}", self.items[parent]["name"])

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of `obj.method` (instance only)."""
        orig = getattr(obj, method)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(obj, method, wrapped)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.items if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


# ---- event log ------------------------------------------------------------

_WRITE_CLASSES = (
    ("delta", re.compile(r"/data/delta-\d+")),
    ("compaction", re.compile(r"/data/(?:run|snap)-\d+")),
    ("quarantine", re.compile(r"/quarantine\b")),
)
# the output path of a file write, in the formatted plan ("(n) Execute
# InsertIntoHadoopFsRelationCommand / Input: [...] / Arguments: file:/...")
# and in the one-line form ("InsertIntoHadoopFsRelationCommand file:/...")
_WRITE_PATH = re.compile(
    r"InsertIntoHadoopFsRelationCommand[^\n]*\n?(?:Input: [^\n]*\n)?(?:Arguments: )?(file:[^,\s]+)"
)
_REDUCERS = ("Window", "WindowGroupLimit", "HashAggregate", "ObjectHashAggregate", "SortAggregate", "Sort")


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the most recent application log under `log_dir`."""
    apps = [os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.startswith(".")]
    path = max(apps, key=os.path.getmtime)
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLogFold:
    """Jobs, tasks and SQL-plan metrics of an event log, keyed by job group."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.stage_job: dict[int, int] = {}
        self.execs: dict[int, dict] = {}
        self.acc: dict[int, float] = defaultdict(float)
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            handler = getattr(self, "_on_" + kind.replace("$", "_"), None)
            if handler is not None:
                handler(e)

    # -- event handlers
    def _on_SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        self.jobs[e["Job ID"]] = {
            "id": e["Job ID"],
            "group": props.get("spark.jobGroup.id"),
            "exec": int(props["spark.sql.execution.id"]) if props.get("spark.sql.execution.id") else None,
            "start": e["Submission Time"] / 1000.0,
            "end": None,
            "stages": list(e.get("Stage IDs", [])),
        }
        for s in e.get("Stage IDs", []):
            # a stage runs in the first job that lists it; later jobs that
            # reuse its shuffle output list it as skipped
            self.stage_job.setdefault(s, e["Job ID"])

    def _on_SparkListenerJobEnd(self, e):
        if e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0

    def _on_SparkListenerTaskEnd(self, e):
        t = self.stage_tasks[e["Stage ID"]]
        m = e.get("Task Metrics") or {}
        t["tasks"] += 1
        t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            if a.get("Metadata") == "sql" and a.get("Update") is not None:
                try:
                    self.acc[a["ID"]] += float(a["Update"])
                except (TypeError, ValueError):
                    pass

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e.get("accumUpdates", []):
            self.acc[acc_id] += float(value)

    def _on_SparkListenerSQLExecutionStart(self, e):
        self.execs[e["executionId"]] = {
            "group": e.get("jobGroupId"),
            "start": e["time"] / 1000.0,
            "end": None,
            "plan_text": e.get("physicalPlanDescription", ""),
            "plan": e["sparkPlanInfo"],
        }

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        ex = self.execs.get(e["executionId"])
        if ex is not None:
            ex["plan_text"] += "\n" + e.get("physicalPlanDescription", "")
            ex["plan"] = e["sparkPlanInfo"]  # the final adaptive plan wins

    def _on_SparkListenerSQLExecutionEnd(self, e):
        if e["executionId"] in self.execs:
            self.execs[e["executionId"]]["end"] = e["time"] / 1000.0

    def _nodes(self, exec_id: int) -> list[dict]:
        """Flattened final plan of one execution: name, metadata, ancestor
        names (root first) and {metric name: accumulator id}."""
        out = []

        def walk(node, ancestors):
            info = {
                "name": node["nodeName"].strip(),
                "metadata": node.get("metadata") or {},
                "ancestors": ancestors,
                "metrics": {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])},
            }
            out.append(info)
            for c in node.get("children", []):
                walk(c, ancestors + (info["name"],))

        walk(self.execs[exec_id]["plan"], ())
        return out

    # -- queries
    def groups_jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def task_totals(self, groups: set[str]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for j in self.groups_jobs(groups):
            for s in j["stages"]:
                if self.stage_job.get(s) != j["id"]:
                    continue
                for k, v in self.stage_tasks.get(s, {}).items():
                    out[k] += v
        return out

    def sql_metric(self, groups: set[str], node_pred, metric: str) -> float:
        """Sum of a SQL metric over the plan nodes of `groups`' executions
        for which `node_pred(node)` holds; each accumulator counts once."""
        seen: set[int] = set()
        total = 0.0
        for i, x in self.execs.items():
            if x["group"] not in groups:
                continue
            for node in self._nodes(i):
                acc_id = node["metrics"].get(metric)
                if acc_id is not None and acc_id not in seen and node_pred(node):
                    seen.add(acc_id)
                    total += self.acc.get(acc_id, 0.0)
        return total

    def codegen_duration_over(self, groups: set[str], node_pred) -> float:
        """Summed `duration` (s) of the codegen blocks that directly hold a
        node matching `node_pred`: the task time of that pipelined block."""
        seen: set[int] = set()
        total = 0.0
        for i, x in self.execs.items():
            if x["group"] not in groups:
                continue
            nodes = self._nodes(i)
            blocks = {
                next((a for a in reversed(n["ancestors"]) if a.startswith("WholeStageCodegen")), None)
                for n in nodes
                if node_pred(n)
            }
            for n in nodes:
                acc_id = n["metrics"].get("duration")
                if n["name"] in blocks and acc_id is not None and acc_id not in seen:
                    seen.add(acc_id)
                    total += self.acc.get(acc_id, 0.0) / 1000.0
        return total

    def write_kind(self, exec_id: int | None) -> str | None:
        """delta / compaction / quarantine for an execution that writes such
        files (from the output path in its physical plan), else None."""
        x = self.execs.get(exec_id)
        m = x and _WRITE_PATH.search(x["plan_text"])
        if not m:
            return None
        return next((k for k, rx in _WRITE_CLASSES if rx.search(m.group(1))), None)

    def busy_by_kind(self, groups: set[str], lo: float, hi: float) -> dict[str, float]:
        """Job-busy wall inside [lo, hi] per write kind; jobs that write
        nothing count as `prepare`, and `all` is the union of every job."""
        iv: dict[str, list] = defaultdict(list)
        for j in self.groups_jobs(groups):
            a, b = max(j["start"], lo), min(j["end"] or hi, hi)
            if b > a:
                iv[self.write_kind(j["exec"]) or "prepare"].append((a, b))
                iv["all"].append((a, b))
        return {k: _union(v) for k, v in iv.items()}

    def write_seconds(self, groups: set[str], kind: str) -> float:
        """Wall of SQL executions that write files of `kind` (delta, compaction,
        quarantine), from the output paths in their physical plans."""
        return _union([
            (x["start"], x["end"])
            for i, x in self.execs.items()
            if x["group"] in groups and x["end"] is not None and self.write_kind(i) == kind
        ])


def is_scan(node) -> bool:
    return node["name"].startswith("Scan")


def is_wal_scan(node) -> bool:
    """A scan of WAL input: the streaming micro-batch arrives as an existing
    RDD; a batch read names the WAL directory in its file index."""
    return node["name"] == "Scan ExistingRDD" or (
        node["name"].startswith("Scan") and "/wal/" in node["metadata"].get("Location", "")
    )


def is_reducer(node) -> bool:
    """The LWW reducer upstream of the normalize UDF, window- or aggregate-planned."""
    return node["name"] in _REDUCERS and "ArrowEvalPython" in node["ancestors"]


def is_python_udf(node) -> bool:
    return node["name"] in ("ArrowEvalPython", "BatchEvalPython")


def is_exchange(node) -> bool:
    return node["name"] == "Exchange"
