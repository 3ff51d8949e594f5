"""Outside-in tracing for the benchmark: in-memory spans around the
benchmark's calls into the program, a resident-memory sampler for the
process tree, and a summary of the Spark event log the benchmark's
session config turns on. Nothing here reaches into ``img_spark``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans (id, parent, trace, name, start, end, attrs), held in memory
    and written out once at the end. One driver thread, so the open-span
    stack gives each span its parent."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------------- memory
def _tree_pss(root: int) -> int:
    """Proportional resident bytes of ``root`` and all its descendants
    (the driver, the JVM it launched and the JVM's Python workers).
    PSS splits pages shared between processes — the forked Python
    workers share most of theirs — so the sum counts them once."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
        todo += children.get(pid, [])
    return total


class RssSampler:
    """Peak of the process tree's summed proportional resident memory,
    sampled by a background thread until ``stop``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._done.is_set():
            self.peak = max(self.peak, _tree_pss(me))
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_pss(os.getpid()))
        return self.peak / 2 ** 20


# -------------------------------------------------------------- event log
def eventlog_conf(directory: str) -> dict:
    """Session settings for one plain-JSON event-log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_WRITE_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\n"
    r"Arguments: ([^,\n]+)"
)


class EventLog:
    """Jobs, tasks, SQL executions and SQL-metric totals of one event
    log. Times are epoch seconds; SQL 'timing' metrics are milliseconds
    in the log and seconds here."""

    def __init__(self, path: str):
        self.jobs: dict = {}        # job id -> dict
        self.stage_job: dict = {}
        self.submitted: dict = {}   # job id -> stages actually run
        self.tasks: list = []
        self.execs: dict = {}       # execution id -> dict
        self.metric: dict = {}      # accumulator id -> (node, name, type)
        self.updates: list = []     # (job id, accumulator id, value)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.metric[m["accumulatorId"]] = (
                info["nodeName"], m["name"], m["metricType"]
            )
        for c in info.get("children", []):
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1e3, "end": None,
                "exec": int(eid) if eid is not None else None,
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            job = self.stage_job.get(e["Stage Info"]["Stage ID"])
            self.submitted[job] = self.submitted.get(job, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            job = self.stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "job": job,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            })
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if isinstance(a.get("Update"), (int, str)):
                    try:
                        self.updates.append((job, a["ID"], int(a["Update"])))
                    except ValueError:
                        pass
        elif kind.endswith("SQLExecutionStart"):
            m = _WRITE_PATH.search(e.get("physicalPlanDescription", ""))
            self.execs[e["executionId"]] = {
                "start": e["time"] / 1e3, "end": None,
                "path": m.group(1) if m else None,
            }
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.metric[m["accumulatorId"]] = (
                    "?", m["name"], m["metricType"]
                )
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"] / 1e3

    def jobs_in(self, t0: float, t1: float) -> dict:
        return {j: v for j, v in self.jobs.items()
                if v["end"] is not None and t0 <= v["start"] <= t1}

    def window(self, t0: float, t1: float, layer_of) -> dict:
        """Summary of the jobs submitted in [t0, t1]. ``layer_of`` maps
        an execution's output path (or None) to a layer name. Job time
        is split exclusively: an instant with k jobs running counts 1/k
        towards each job's layer, so the layer times plus the driver gap
        (no job running) add up to the window."""
        jobs = self.jobs_in(t0, t1)
        ids = set(jobs)
        layers: dict = {}
        edges = sorted({t0, t1, *[min(max(v[k], t0), t1)
                                  for v in jobs.values()
                                  for k in ("start", "end")]})
        gap = 0.0
        for a, b in zip(edges, edges[1:]):
            live = [v for v in jobs.values()
                    if v["start"] <= a and v["end"] >= b]
            if not live:
                gap += b - a
                continue
            for v in live:
                ex = self.execs.get(v["exec"]) if v["exec"] is not None else None
                name = layer_of(ex["path"] if ex else None)
                layers[name] = layers.get(name, 0.0) + (b - a) / len(live)
        tasks = [t for t in self.tasks if t["job"] in ids]
        out = {
            "wall_s": t1 - t0,
            "driver_gap_s": gap,
            "layers": layers,
            "jobs": len(jobs),
            "stages": sum(self.submitted.get(j, 0) for j in ids),
            "tasks": len(tasks),
        }
        for k in ("run_s", "cpu_s", "shuffle_read", "shuffle_write",
                  "spill", "input"):
            out[k] = sum(t[k] for t in tasks)
        py: dict = {}
        for job, acc, val in self.updates:
            if job not in ids or acc not in self.metric:
                continue
            node, name, mtype = self.metric[acc]
            key = (node, name)
            py[key] = py.get(key, 0) + (val / 1e3 if mtype == "timing" else val)
        out["sql"] = py
        return out

    def exec_seconds(self, t0: float, t1: float, match) -> float:
        """Total duration of the SQL executions started in [t0, t1] whose
        output path satisfies ``match``."""
        return sum(
            v["end"] - v["start"] for v in self.execs.values()
            if v["end"] is not None and t0 <= v["start"] <= t1
            and v["path"] and match(v["path"])
        )


def find_eventlog(directory: str) -> str:
    files = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {files}")
    return os.path.join(directory, files[0])
