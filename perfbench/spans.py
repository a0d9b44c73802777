"""Spans around layer calls, and Spark's own event log, for the traced run.

A :class:`Tracer` records one span per layer call: name, start, end,
parent and the id of the pass it belongs to. Spans stay in memory and
are written out when the run ends. While a span is open its id is set
as the Spark local property ``perfbench.span``, so every Spark job the
call starts carries it in the event log; :func:`spark_by_span` uses that
to add up task metrics, Python-worker SQL metrics and final AQE plan
shapes per span. A disabled tracer records nothing and touches no
Spark state, so untraced passes run the same code at no cost.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

# Task-side SQL metric names of the Python UDF operators (PySpark 4.x
# PythonSQLMetrics), logged in milliseconds.
PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
}

SPARK_KEYS = (
    "task_busy_s",
    "task_wait_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "python_boot_s",
    "python_init_s",
    "python_total_s",
    "straggler_ratio",
    "task_retry_ratio",
    "exchanges",
    "codegen_stages",
)


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, prev)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _plan_counts(info: dict) -> tuple[int, int]:
    """(shuffle exchanges, whole-stage codegen stages) in a SparkPlanInfo
    tree, as the event log records it."""
    name = info.get("nodeName", "")
    ex = int(name == "Exchange")
    cg = int(name.startswith("WholeStageCodegen"))
    for child in info.get("children", []):
        e, c = _plan_counts(child)
        ex += e
        cg += c
    return ex, cg


def read_event_log(path: str) -> list[dict]:
    """Events of one application log: a file, or a rolling-log directory
    of ``events_<n>_...`` files."""
    files = [path]
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in names]
    out = []
    for name in files:
        with open(name) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def spark_by_span(events: list[dict]) -> dict[int, dict]:
    """Span id -> Spark metrics of every job that ran inside it.

    Task busy time is executor run time; wait time is scheduler delay
    plus shuffle fetch wait. Python times are the Python UDF operators'
    SQL metrics (milliseconds in the log). Exchange and codegen counts
    come from each SQL execution's last, i.e. final AQE, plan. The
    straggler inputs (``slowest_stage_s`` and its task-time ratio) are
    kept per span so that :func:`combine` can pick the slowest stage.
    """
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    final_plan: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    stage_wall: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(SPAN_PROP) in (None, ""):
                continue
            sid = int(props[SPAN_PROP])
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            final_plan[int(ev["executionId"])] = ev.get("sparkPlanInfo", {})
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Completion Time") and info.get("Submission Time"):
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1e3

    out: dict[int, dict] = {}

    def acc(sid: int) -> dict:
        return out.setdefault(sid, empty())

    for st, evs in tasks.items():
        if st not in stage_span:
            continue
        a = acc(stage_span[st])
        durations = []
        for ev in evs:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
            durations.append(dur)
            run = m.get("Executor Run Time", 0) / 1e3
            overhead = (
                m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
            ) / 1e3
            getting = (
                (info["Finish Time"] - info["Getting Result Time"]) / 1e3
                if info.get("Getting Result Time")
                else 0.0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["task_busy_s"] += run
            a["task_wait_s"] += max(dur - run - overhead - getting, 0.0)
            a["task_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            a["attempts"] += 1
            a["retries"] += int(info.get("Attempt", 0) > 0)
            for u in info.get("Accumulables", []):
                key = PY_METRICS.get(u.get("Name"))
                if key and u.get("Update") is not None:
                    a[key] += float(u["Update"]) / 1e3
        wall = stage_wall.get(st, max(durations, default=0.0))
        med = statistics.median(durations) if durations else 0.0
        if durations and med > 0 and wall > a["slowest_stage_s"]:
            a["slowest_stage_s"] = wall
            a["straggler_ratio"] = max(durations) / med

    for ex_id, sid in exec_span.items():
        e, c = _plan_counts(final_plan.get(ex_id, {}))
        a = acc(sid)
        a["exchanges"] += e
        a["codegen_stages"] += c
    return out


def empty() -> dict:
    return {k: 0.0 for k in SPARK_KEYS} | {
        "attempts": 0, "retries": 0, "slowest_stage_s": -1.0}


def combine(parts: list[dict]) -> dict:
    """Spark metrics of several spans taken together: sums, except the
    straggler ratio (that of the slowest stage) and the retry ratio
    (retried attempts over all attempts)."""
    out = empty()
    for p in parts:
        for k in SPARK_KEYS + ("attempts", "retries"):
            if k not in ("straggler_ratio", "task_retry_ratio"):
                out[k] += p[k]
        if p["slowest_stage_s"] > out["slowest_stage_s"]:
            out["slowest_stage_s"] = p["slowest_stage_s"]
            out["straggler_ratio"] = p["straggler_ratio"]
    out["task_retry_ratio"] = out["retries"] / out["attempts"] if out["attempts"] else 0.0
    return out


def layer_metrics(spans: list[dict], by_span: dict[int, dict], passes: set) -> tuple[dict, list[dict]]:
    """Per-layer metrics and table rows from the spans of ``passes``.

    Metrics are medians over the passes: ``<layer>_s`` is the layer's
    self time, ``spark.<key>`` the whole pass, and
    ``operators.exchanges``/``operators.codegen_stages`` the plans run
    inside operators and plans calls (the ladder calls the operators).
    Table rows hold each layer's self time and Spark metrics per pass.
    """
    selfs = self_times(spans)
    mine = [s for s in spans if s["pass"] in passes]
    per_pass = []
    for p in sorted(passes):
        ss = [s for s in mine if s["pass"] == p]
        m = {}
        for s in ss:
            if s["parent"] is not None:  # the root span is the pass itself
                m[s["name"] + "_s"] = m.get(s["name"] + "_s", 0.0) + selfs[s["id"]]
        whole = combine([by_span.get(s["id"], empty()) for s in ss])
        m.update({f"spark.{k}": whole[k] for k in SPARK_KEYS if k not in ("exchanges", "codegen_stages")})
        ops = combine([by_span.get(s["id"], empty()) for s in ss
                       if s["name"].split(".")[0] in ("operators", "plans")])
        m["operators.exchanges"] = ops["exchanges"]
        m["operators.codegen_stages"] = ops["codegen_stages"]
        per_pass.append(m)
    keys = {k for m in per_pass for k in m}
    metrics = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    rows = []
    n = max(len(passes), 1)
    for name in sorted({s["name"] for s in mine}):
        ss = [s for s in mine if s["name"] == name]
        sp = combine([by_span.get(s["id"], empty()) for s in ss])
        row = {"layer": name, "calls": len(ss) / n,
               "self_s": sum(selfs[s["id"]] for s in ss) / n}
        for k in SPARK_KEYS:
            row[k] = sp[k] if k in ("straggler_ratio", "task_retry_ratio") else sp[k] / n
        rows.append(row)
    return metrics, rows
