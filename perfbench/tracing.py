"""Benchmark-side tracing: in-memory spans plus a Spark event-log fold.

Spans are recorded by the benchmark around its calls into the engine (no
engine code is instrumented). Each span carries a layer name
`<module>.<function>`; while a span is open the worker tags Spark jobs with
`setJobDescription("layer=<name>")`, so the event log can be folded back
onto the same layer names.

The event log is Spark's JSON-lines listener log, uncompressed and rolled
into `events_<n>_<app>` files. The fold keeps, per job description:
job and task counts, executor run/CPU/GC time, shuffle, spill and input
bytes (stage totals), and per plan node the SQL metrics, e.g. the Python
UDF boundary ("data sent to/returned from Python workers", "time to
run/initialize Python workers") and "number of output rows".
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# stage-total accumulables kept by the fold (name in the log → key)
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
_SQL_EVENT = "org.apache.spark.sql.execution.ui."


class Spans:
    """In-memory span recorder. Disabled, `span()` only yields.
    `on_change(path)` is called with the open spans' names joined by '/'
    whenever a span opens or closes ('' once none is open)."""

    def __init__(self, enabled: bool, on_change=None):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._on_change = on_change

    def path(self) -> str:
        return "/".join(self.records[i]["name"] for i in self._stack)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        if self._on_change:
            self._on_change(self.path())
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._on_change:
                self._on_change(self.path())

    def self_times(self) -> dict:
        """Per layer name: total span time and self time (span minus the
        part covered by its child spans), in seconds."""
        child = {r["id"]: 0.0 for r in self.records}
        for r in self.records:
            if r["parent"] is not None and r["end"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict = {}
        for r in self.records:
            if r["end"] is None:
                continue
            total = r["end"] - r["start"]
            agg = out.setdefault(r["name"], {"calls": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += total
            agg["self_s"] += total - child[r["id"]]
        return out


def event_log_files(log_dir: str) -> list[str]:
    """The rolled event-log files (`events_<n>_<app>`) under `log_dir`, in
    write order."""
    files = [os.path.join(dirpath, n)
             for dirpath, _dirs, names in os.walk(log_dir)
             for n in names if n.startswith("events_")]
    return sorted(files, key=lambda p: (os.path.dirname(p),
                                        int(os.path.basename(p).split("_")[1])))


def _walk_plan(node: dict, out: list) -> None:
    out.append(node)
    for ch in node.get("children", []):
        _walk_plan(ch, out)


def fold_event_log(log_dir: str) -> dict:
    """Fold the event log into {description: layer totals}. Jobs carry the
    description set by setJobDescription; SQL plan-node metrics are joined
    through their accumulator ids."""
    job_desc: dict = {}
    stage_job: dict = {}
    stage_vals: dict = {}  # stage id → {metric: value}
    stage_tasks: dict = {}
    accum_vals: dict = {}  # accumulator id → value (stage totals)
    exec_desc: dict = {}
    exec_plan: dict = {}  # execution id → latest sparkPlanInfo
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_desc[ev["Job ID"]] = props.get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_tasks[sid] = info.get("Number of Tasks", 0)
                    vals = stage_vals.setdefault(sid, {})
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        try:
                            value = float(acc.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        # the value is the accumulator's running total, so a
                        # metric updated in several stages keeps its latest
                        accum_vals[acc["ID"]] = max(
                            accum_vals.get(acc["ID"], 0.0), value)
                        key = _STAGE_METRICS.get(name)
                        if key:
                            vals[key] = vals.get(key, 0.0) + value
                elif kind == _SQL_EVENT + "SparkListenerSQLExecutionStart":
                    exec_desc[ev["executionId"]] = ev.get("description")
                    exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate":
                    exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == _SQL_EVENT + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev.get("accumUpdates", []):
                        accum_vals[acc_id] = accum_vals.get(acc_id, 0.0) + value

    layers: dict = {}

    def layer(desc):
        return layers.setdefault(desc or "(untagged)", {
            "jobs": 0, "stages": 0, "tasks": 0, "executions": 0,
            "exchanges": 0, "nodes": {}})

    for job, desc in job_desc.items():
        layer(desc)["jobs"] += 1
    for sid, vals in stage_vals.items():
        lay = layer(job_desc.get(stage_job.get(sid)))
        lay["stages"] += 1
        lay["tasks"] += stage_tasks.get(sid, 0)
        for k, v in vals.items():
            lay[k] = lay.get(k, 0.0) + v
    for eid, plan in exec_plan.items():
        lay = layer(exec_desc.get(eid))
        lay["executions"] += 1
        nodes: list = []
        _walk_plan(plan, nodes)
        lay["exchanges"] += sum(1 for n in nodes if n["nodeName"] == "Exchange")
        for n in nodes:
            for m in n.get("metrics", []):
                if m["accumulatorId"] not in accum_vals:
                    continue
                value = accum_vals[m["accumulatorId"]]
                if m.get("metricType") == "nsTiming":
                    value /= 1e6  # report every timing in ms
                node = lay["nodes"].setdefault(n["nodeName"], {})
                node[m["name"]] = node.get(m["name"], 0.0) + value
    return layers
